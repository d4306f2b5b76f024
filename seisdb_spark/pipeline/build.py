"""SGT/DGF build + read pipelines as composable DataFrame transformations.

This is the Spark-first re-expression of the reference's entire reason to
exist: its `seisdb/DSGT.py:40-196` (SGT) and `DDGF.py:40-190` (DGF).
The reference materializes a dense ``float32[n_gll, n_step, 3, n_para]``
RAM buffer per processor and loops; here the same semantics are a
declarative plan over long tables — no buffer, no loop:

    ibool element rows (proc, i_spec, gll_ids[125])
      -> P1 27-of-125 positional filter        (posexplode, filter isin)
      -> D1 first-occurrence dedup             (row_number window per gll_id)
         ... collected: the selected points are driver data
      -> J1 gather                             (broadcast equi-join on cell)
      -> P3 temporal stride + existence        (driver step list; semi-join)
      -> R1/R2 ordered assembly + flatten      (sort_array(collect_list(struct)))
      -> A1/A2 offset/scale  E1 quantize  E2 zlib   (one Arrow-batched map)
      -> A4 start offsets                      (cumulative window per proc)
      -> E4/E5/E6 partitioned parquet + db_meta

One rule for the build's small tables: they are driver data, and they
become frames one way, as local relations (:func:`local_frame`; a
``LocalTableScan``, so collecting or broadcasting one runs no Spark job and
reads no file).  The reference holds the same tables as Python lists
(DSGT.py:81-84, 186-194):

  - the valid (proc, step) list: the driver lists each force dir once per
    build (one ``pathGlobFilter`` directory listing, no Spark job) and the
    P3 check over those names (:func:`stride_steps`) gives it;
  - the selected points: :func:`build_records` runs the selection once
    (the one ibool decode of a build) and collects it through Arrow.  The
    gather broadcasts them anyway, so this adds no driver memory;
  - db_meta: one row per proc, built in Python from the per-proc point
    counts and the step list (:func:`db_meta`).

The decode reads only the snapshot files whose step is in the stride: a
``_metadata.file_name`` filter prunes the same frames' file index before
any byte is read.  The records plan reads no ibool file and shuffles
twice — the groupBy(proc, gll_id) assembly, keyed on the natural output
key, and the A4 start-offset window, which re-shuffles the encoded records
(one compressed blob per point) by proc.  The dimension sides (selected
points, valid steps) are broadcast local relations; the per-force snapshot
scans are unioned under one decode and semi-joined with the valid steps
once; encode is embarrassingly parallel per row (pinned by
tests/test_sgt_pipeline.py::test_build_plan_decodes_snapshots_once_and_semi_joins_once).
At 100 TB each (proc, step, force) snapshot file is one input task and AQE
handles the rest — nothing below ever sees more than one point's series at
once.  What differs between SGT and DGF is data: ``specfem.KINDS``; the
batch build and the staged stream share one tail, :func:`build_records`.

Read path: ``read_db`` reads ``records`` and ``db_meta`` with
``DB_SCHEMAS``, the schemas the writer selects its columns from, so building
its plans infers no footer.  ``element_gll_ids`` is a
projection of the ibool element rows (no aggregate, no exchange), and
``decode_records`` decodes one Arrow batch of records at a time.  A lookup
in perfbench's shape runs 2 jobs: the element's ids and the decode.

Determinism contract (golden-tested): float32 arithmetic end-to-end in the
encode (min/subtract/max/divide/scale in float32, truncating cast), matching
DSGT.py:138-152 bit-for-bit; series order is the kind's struct sort
(force, para, step) for SGT / (para, force, step) for DGF — the reference's
two serialization orders (DSGT.py:131-135 vs DDGF.py:128-132).

Deviations from the reference (documented in SURVEY §7):
  - constant series: reference divides by zero (DSGT.py:145 UB); we emit
    all-zero codes with scale=0.0, making decode exact (= offset).
  - recorded length is the true ``len(blob)``, not ``sys.getsizeof``
    (DSGT.py:162 includes ~33B of Python object overhead).
"""

from __future__ import annotations

import zlib
from collections import Counter, defaultdict
from collections.abc import Iterable, Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from seisdb_spark.schemas import DB_VERSION, ENCODING_LEVEL_DEFAULT, INDEX27, REORDER27
from seisdb_spark.sources import specfem
from seisdb_spark.sources.specfem import KINDS


# ---------------------------------------------------------------------------
# driver data: the build's small tables as local relations
# ---------------------------------------------------------------------------
def _schema(ddl: str) -> T.StructType:
    """A StructType from ``name type, ...`` pairs of Spark SQL type names."""
    types = {"int": T.IntegerType(), "bigint": T.LongType(), "double": T.DoubleType(),
             "string": T.StringType(), "binary": T.BinaryType()}
    pairs = (col.split() for col in ddl.split(","))
    return T.StructType([T.StructField(name, types[typ]) for name, typ in pairs])


def local_frame(spark: SparkSession, rows: Iterable[tuple], schema) -> DataFrame:
    """``rows`` (tuples in the column order of ``schema``, a StructType or
    ``name type, ...`` string) as a local relation.
    Created from an Arrow table, the frame plans as a ``LocalTableScan``:
    collecting or broadcasting it runs no Spark job and it reads no file
    (``createDataFrame`` of a list plans a ``Scan ExistingRDD``, one job per
    use).  Driver rows hold no null, so every column is non-nullable, as a
    literal's is."""
    fields = (_schema(schema) if isinstance(schema, str) else schema).fields
    schema = T.StructType([T.StructField(f.name, f.dataType, False) for f in fields])
    rows = [dict(zip(schema.names, r)) for r in rows]
    return spark.createDataFrame(pa.Table.from_pylist(rows, to_arrow_schema(schema)), schema)


# ---------------------------------------------------------------------------
# P1 + D1: spatial sub-sampling and first-occurrence dedup
# ---------------------------------------------------------------------------
def select_gll_points(ibool: DataFrame, points_per_element: int = 27) -> DataFrame:
    """(proc, gll_id, i_spec, i_gll): one owner cell per unique global point.

    The element rows of ``read_ibool`` are exploded JVM-side to one
    (i_gll, gll_id) cell each (``posexplode``: i_gll is the list position).
    P1: keep only the 27 corner/edge/center cells (DSEM_Utils/__init__.py:6-8)
    when points_per_element == 27; all 125 otherwise (D2 dispatcher,
    ibool_reader.py:177-194).
    D1: the reference keeps a cell iff its id exceeds a running max over the
    row-major scan (ibool_reader.py:116-173).  On conforming SPECFEM input
    (new ids appear in encounter order) that equals order-independent
    first-occurrence dedup, which is what we implement: row_number over
    (proc, gll_id) ordered by the scan key (i_spec, i_gll).  Equivalence and
    the divergence counterexample are pytest-asserted.
    """
    cells = ibool.select("proc", "i_spec", F.posexplode("gll_ids").alias("i_gll", "gll_id"))
    if points_per_element == 27:
        cells = cells.filter(F.col("i_gll").isin(list(INDEX27)))
    elif points_per_element not in (125, -1):
        raise ValueError("points_per_element must be 27 or 125")
    w = Window.partitionBy("proc", "gll_id").orderBy("i_spec", "i_gll")
    return (
        cells.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("proc", "gll_id", "i_spec", "i_gll")
    )


# ---------------------------------------------------------------------------
# P3 + J3: temporal stride + exists-in-all-3-forces
# ---------------------------------------------------------------------------
def stride_steps(
    listing: Iterable[tuple[int, int, int]], n_force: int, stride: range
) -> list[tuple[int, int]]:
    """Sorted (proc, step) pairs of ``stride`` that ``listing`` ((proc,
    force, step) triples) holds for all ``n_force`` forces: the "present in
    N and E and Z" predicate (SURVEY §2.2 P3 / §2.3 J3) as plain Python over
    file-name data, like the reference's os.path.exists loop.  A degenerate
    stride (step1 <= step0) is an empty range, so nothing survives and the
    build raises its explicit "no valid steps" error (DDBbase.py:82-84)."""
    forces = defaultdict(set)
    for proc, force, step in listing:
        if step in stride:
            forces[proc, step].add(force)
    return sorted(key for key, fs in forces.items() if len(fs) == n_force)


def valid_steps(
    spark: SparkSession,
    force_dirs: list[str],
    name_data: str,
    step0: int,
    step1: int,
    dstep: int,
) -> DataFrame:
    """(proc, step) pairs in the stride that exist in all force dirs, as a
    local frame.

    The reference's DCheck_valid_step (DDBbase.py:55-84) is a driver-side
    os.path.exists loop; here the driver lists each dir once
    (``specfem.snapshot_frames``) and :func:`stride_steps` checks the
    listed names.  No Spark job runs and no file is read, collect included.
    """
    frames = specfem.snapshot_frames(spark, force_dirs, name_data)
    step_list = stride_steps(
        specfem.snapshot_listing(frames), len(force_dirs), range(step0, step1, dstep)
    )
    return local_frame(spark, step_list, "proc int, step int")


# ---------------------------------------------------------------------------
# J1/J2 + R1 + R2: gather and ordered assembly
# ---------------------------------------------------------------------------
def assemble_series(
    snapshots: DataFrame,
    points: DataFrame,
    steps: DataFrame,
    kind: str = "SGT",
) -> DataFrame:
    """(proc, gll_id, i_spec, i_gll, n_values, series) — the reference's 4-D
    buffer + per-point flatten (DSGT.py:86-135) as one declarative plan.

    The gather is a broadcast equi-join on the kind's gather key (the
    dimension side is broadcast, so the fact stream never shuffles for it);
    the assembly is ``sort_array(collect_list(struct(...)))`` whose struct
    field order IS the kind's serialization order (``Kind.series_order``).
    collect_list alone is non-deterministic; the sort is the correctness
    requirement (SURVEY §7 risk #1).
    """
    spec = KINDS[kind]
    stack_args = ", ".join(f"{i}, {p}" for i, p in enumerate(spec.paras))
    long = snapshots.selectExpr(
        "proc", "force", "step", *spec.cell_key,
        f"stack({len(spec.paras)}, {stack_args}) as (para, value)",
    )
    gathered = long.join(F.broadcast(points), spec.gather_key, "inner").join(
        F.broadcast(steps), ["proc", "step"], "left_semi"
    )
    return (
        gathered.groupBy("proc", "gll_id")
        .agg(
            F.first("i_spec").alias("i_spec"),
            F.first("i_gll").alias("i_gll"),
            F.transform(
                F.sort_array(F.collect_list(F.struct(*spec.series_order, "value"))),
                lambda x: x["value"],
            ).alias("series"),
        )
        .withColumn("n_values", F.size("series").cast("long"))
    )


# ---------------------------------------------------------------------------
# A1 + A2 + E1 + E2 + E3: normalize, quantize, compress
# ---------------------------------------------------------------------------
_ENCODE_SCHEMA = T.StructType(
    [
        T.StructField("proc", T.IntegerType(), False),
        T.StructField("gll_id", T.IntegerType(), False),
        T.StructField("i_spec", T.IntegerType(), False),
        T.StructField("i_gll", T.IntegerType(), False),
        T.StructField("n_values", T.LongType(), False),
        T.StructField("offset", T.DoubleType(), False),
        T.StructField("scale", T.DoubleType(), False),
        T.StructField("length", T.LongType(), False),
        T.StructField("blob", T.BinaryType(), False),
    ]
)


def encode_records(series: DataFrame, encoding_level: int = ENCODING_LEVEL_DEFAULT) -> DataFrame:
    """Per-point encode: A1 min-offset, A2 max-scale (zero-guarded), E1
    truncating quantize, E2 zlib, E3 true length — one Arrow-batched
    mapInPandas, float32 arithmetic matching DSGT.py:138-159 bit-for-bit.

    This is the one place Python touches row data, and it is embarrassingly
    parallel: each row is one point's full series; no state crosses rows.
    """
    if encoding_level not in (8, 16):
        raise ValueError("encoding_level must be 8 or 16")
    max_code = 2**encoding_level - 1
    code_dtype = np.uint8 if encoding_level == 8 else np.uint16

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "proc": pdf["proc"].to_numpy(np.int32),
                "gll_id": pdf["gll_id"].to_numpy(np.int32),
                "i_spec": pdf["i_spec"].to_numpy(np.int32),
                "i_gll": pdf["i_gll"].to_numpy(np.int32),
                "n_values": pdf["n_values"].to_numpy(np.int64),
            }
            offsets, scales, lengths, blobs = [], [], [], []
            for arr in pdf["series"]:
                data = np.asarray(arr, dtype=np.float32)
                offset = data.min()  # A1, float32
                data = data - offset
                scale = data.max()  # A2, float32
                if scale > 0:
                    data = data / scale
                    codes = (data * max_code).astype(code_dtype)  # E1 truncation
                else:
                    codes = np.zeros(data.size, dtype=code_dtype)
                blob = zlib.compress(codes.tobytes())  # E2
                offsets.append(float(offset))
                scales.append(float(scale))
                lengths.append(len(blob))  # E3: true byte length
                blobs.append(blob)
            out["offset"] = np.asarray(offsets, dtype=np.float64)
            out["scale"] = np.asarray(scales, dtype=np.float64)
            out["length"] = np.asarray(lengths, dtype=np.int64)
            out["blob"] = blobs
            yield pd.DataFrame(out)

    return series.mapInPandas(encode, _ENCODE_SCHEMA)


def add_start_offsets(records: DataFrame) -> DataFrame:
    """A4: byte offset of each blob in the per-proc store — a cumulative sum
    of prior lengths over the gll_id order (DSGT.py:161-170).  Parquet does
    not need offsets; kept for header parity with the reference layout."""
    w = (
        Window.partitionBy("proc")
        .orderBy("gll_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return records.withColumn("start", F.coalesce(F.sum("length").over(w), F.lit(0)))


# ---------------------------------------------------------------------------
# E4/E5/E6: partitioned sink + db_meta
# ---------------------------------------------------------------------------
#: The two tables of a DB as Parquet returns them: the written columns in
#: file order, then the (network, station) partition columns.  The writer
#: selects these columns and ``read_db`` reads with these schemas, so no
#: footer is inferred at plan build.
DB_SCHEMAS = {
    "records": _schema(
        "proc int, gll_id int, i_spec int, i_gll int, n_values bigint, offset double, "
        "scale double, length bigint, start bigint, blob binary, network string, station string"
    ),
    "db_meta": _schema(
        "proc int, proc_name string, ngll bigint, nstep bigint, nforce int, nparas int, "
        "dt double, nspec int, kind string, forder string, version string, "
        "network string, station string"
    ),
}


def db_meta(
    spark: SparkSession, ngll: dict[int, int], step_list: Iterable[tuple[int, int]], *,
    network: str, station: str, kind: str, n_force: int, dt: float, nspec: int,
) -> DataFrame:
    """The HDF5 scalar attrs (DSGT.py:186-194) as a per-proc metadata table,
    built on the driver as the reference builds them (its ``ngll`` and
    ``nstep`` are the lengths of lists it holds): a local relation with
    ``DB_SCHEMAS``'s db_meta schema, sorted by proc.  ``nparas`` and
    ``forder`` come from the kind table; ``proc_name`` is the reference's
    zero-padded processor prefix (L4, DWidgets.py:9-11) so consumers can
    resolve original filenames.

    ``ngll`` maps each proc to its number of selected points and ``nstep``
    counts its pairs in ``step_list``; a proc gets a row when it has both.
    Every snapshot file holds every cell of its proc, so each selected
    point becomes exactly one record: the meta equals a count over the
    records without running their lineage."""
    spec = KINDS[kind]
    nstep = Counter(proc for proc, _step in step_list)
    rows = [
        (proc, f"proc{proc:06d}", n, nstep[proc], n_force, len(spec.paras), float(dt), nspec,
         kind, spec.forder, DB_VERSION, network, station)
        for proc, n in sorted(ngll.items())
        if proc in nstep
    ]
    return local_frame(spark, rows, DB_SCHEMAS["db_meta"])


def _write_partitioned(
    records: DataFrame, meta: DataFrame, path: str, network: str, station: str, **options
) -> None:
    # both tables land under the writer's labels; the meta, one row per
    # proc, is one file per station
    label = {"network": F.lit(network), "station": F.lit(station)}
    for name, df in (("records", records), ("db_meta", meta.coalesce(1))):
        df.withColumns(label).select(*DB_SCHEMAS[name].fieldNames()).write.mode(
            "overwrite"
        ).options(**options).partitionBy("network", "station").parquet(f"{path}/{name}")


def write_db(records: DataFrame, meta: DataFrame, path: str, network: str, station: str) -> None:
    """E4/E5/E6: records partitioned by (network, station) — the reference's
    ``saving_dir/network/station/proc*`` directory layout (DDBbase.py:37-48)
    as Parquet partition pruning — plus the db_meta sidecar table (same
    partitioning, so appends and station-replaces stay atomic per station).
    Both tables are stamped with ``network`` and ``station``, whatever
    labels the build gave the meta."""
    _write_partitioned(records, meta, path, network, station)


def append_to_db(
    records: DataFrame, meta: DataFrame, path: str, network: str, station: str
) -> None:
    """Add — or idempotently replace — ONE station's build in an existing DB.

    Dynamic partition overwrite: only the (network, station) partitions
    present in the incoming data are rewritten; every other station's
    records and meta are untouched. This is the incremental-build workflow
    the reference lacks (its layout is write-once per run, DDBbase.py:33-53):
    at 100 TB a new station lands as one partition write, never a DB rewrite.
    The mode is a writer option, which takes precedence over the session
    conf, so no other write in the session sees it.
    """
    _write_partitioned(records, meta, path, network, station, partitionOverwriteMode="dynamic")


def read_db(spark: SparkSession, path: str) -> tuple[DataFrame, DataFrame]:
    """(records, db_meta) of the DB at ``path``, read with ``DB_SCHEMAS``:
    building the plans infers no footer.  Up to 32 station dirs per network
    (Spark's parallel partition discovery threshold) they are listed without
    a job; above that each table's listing is one Spark job."""
    return tuple(spark.read.schema(DB_SCHEMAS[n]).parquet(f"{path}/{n}") for n in DB_SCHEMAS)


# ---------------------------------------------------------------------------
# decode / read path (L2/L3 + inverse of E1/E2)
# ---------------------------------------------------------------------------
def element_gll_ids(ibool: DataFrame, points_per_element: int = 27) -> DataFrame:
    """L2/L3: per (proc, i_spec), the element's global ids in the reference's
    emission order, as a projection of the ``read_ibool`` element rows: no
    aggregate, no exchange.  For 27 points that is the x-outer/z-inner
    reorder (ibool_reader.py:82-88) — the INDEX27 gather then the REORDER27
    permutation, composed into one literal array of positions and applied
    JVM-side.  For 125 points it is the element's list as decoded, in plain
    i_gll order (ibool_reader.py:37-54).

    A (proc, i_spec) filter on the result stays above the decode: it cannot
    pass the Python map, so the binaryFile scan pushes no filter and reads
    every ibool file the glob matched, and the filter runs on the decoded
    element rows.  A point query therefore narrows the glob to its proc's
    one file.

    DOCUMENTED DEVIATION (SURVEY §1.1): for an out-of-range element the
    reference ZERO-FILLS — ``extract_element_125`` returns
    ``np.zeros(125)`` when ``index_element >= len(ibool)``
    (ibool_reader.py:50-51) — which downstream silently gathers GLL point
    0's series 125 times.  Here the relational form returns NO ROW for a
    nonexistent (proc, i_spec): absence is an empty result, never
    fabricated ids.  Tested in
    tests/test_sgt_pipeline.py::test_element_lookup_out_of_range."""
    if points_per_element == 27:
        ids = F.array(*[F.col("gll_ids")[INDEX27[p]] for p in REORDER27])
    elif points_per_element in (125, -1):
        ids = F.col("gll_ids")
    else:
        raise ValueError("points_per_element must be 27 or 125")
    return ibool.select("proc", "i_spec", ids.alias("gll_ids"))


def decode_records(
    records: DataFrame,
    n_force: int,
    n_para: int,
    kind: str = "SGT",
    encoding_level: int = ENCODING_LEVEL_DEFAULT,
) -> DataFrame:
    """Inverse of encode+assemble: dezlib -> dequantize
    (``code/max_code*scale + offset``, the implied decode of DSGT.py:148-152)
    -> explode back to long (proc, gll_id, force, para, step_idx, value) in
    the kind's serialization order.
    Reconstruction error bound: |x̂ - x| <= scale/max_code (one LSB,
    truncating encode) — property-tested."""
    max_code = 2**encoding_level - 1
    code_dtype = np.uint8 if encoding_level == 8 else np.uint16
    order = KINDS[kind].series_order
    out_schema = T.StructType(
        [
            T.StructField("proc", T.IntegerType(), False),
            T.StructField("gll_id", T.IntegerType(), False),
            T.StructField("force", T.IntegerType(), False),
            T.StructField("para", T.IntegerType(), False),
            T.StructField("step_idx", T.IntegerType(), False),
            T.StructField("value", T.DoubleType(), False),
        ]
    )

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            raw = [zlib.decompress(b) for b in pdf["blob"]]
            n = np.fromiter(map(len, raw), np.int64, len(raw)) // np.dtype(code_dtype).itemsize
            if np.any(n % (n_force * n_para)):
                raise ValueError(f"a series length is not a multiple of {n_force}x{n_para}")
            codes = np.frombuffer(b"".join(raw), dtype=code_dtype)
            vals = codes.astype(np.float64) / max_code * np.repeat(
                pdf["scale"].to_numpy(np.float64), n
            ) + np.repeat(pdf["offset"].to_numpy(np.float64), n)
            # mixed-radix unravel of each value's position in its record;
            # the step extent is per record, so a batch may mix nstep
            rem = np.arange(codes.size) - np.repeat(np.cumsum(n) - n, n)
            n_step = np.repeat(n // (n_force * n_para), n)
            radix = {"force": n_force, "para": n_para, "step": n_step}
            pos = {}
            for f in reversed(order[1:]):
                rem, pos[f] = np.divmod(rem, radix[f])
            pos[order[0]] = rem
            yield pd.DataFrame(
                {
                    "proc": np.repeat(pdf["proc"].to_numpy(np.int32), n),
                    "gll_id": np.repeat(pdf["gll_id"].to_numpy(np.int32), n),
                    "force": pos["force"].astype(np.int32),
                    "para": pos["para"].astype(np.int32),
                    "step_idx": pos["step"].astype(np.int32),
                    "value": vals,
                }
            )

    return records.select("proc", "gll_id", "offset", "scale", "blob").mapInPandas(
        decode, out_schema
    )


# ---------------------------------------------------------------------------
# end-to-end composition (the reference's create_db)
# ---------------------------------------------------------------------------
def build_records(
    spark: SparkSession,
    model_glob: str,
    nspec: int,
    snapshots: DataFrame,
    steps: DataFrame,
    kind: str = "SGT",
    points_per_element: int = 27,
    encoding_level: int = ENCODING_LEVEL_DEFAULT,
) -> tuple[dict[int, int], DataFrame]:
    """The create_db tail over decoded ``snapshots`` and valid ``steps``:
    ibool -> 27-point selection -> assembly -> encode -> start offsets.

    The selection runs here, as the build's one ibool decode: its points
    are collected through Arrow and become the local relation that the
    gather broadcasts, so the records plan reads no ibool file and an ibool
    decode error raises from this call.  Returns (selected points per proc,
    records_with_start).  The batch build and the staged stream
    (``streaming.finalize_sgt_from_staging``) both run it."""
    ibool = specfem.read_ibool(spark, model_glob, nspec)
    points = select_gll_points(ibool, points_per_element).toArrow()
    ngll = Counter(points["proc"].to_pylist())
    series = assemble_series(snapshots, spark.createDataFrame(points), steps, kind)
    return ngll, add_start_offsets(encode_records(series, encoding_level))


def _make_build(kind: str, doc: str):
    """The one create_db body behind ``sgt_build`` and ``dgf_build``."""
    spec = KINDS[kind]

    def build(
        spark: SparkSession,
        model_glob: str,
        force_dirs: list[str],
        nspec: int,
        step0: int,
        step1: int,
        dstep: int,
        *,
        network: str = "XX",
        station: str = "STA",
        dt: float = 0.1,
        points_per_element: int = 27,
        encoding_level: int = ENCODING_LEVEL_DEFAULT,
    ) -> tuple[DataFrame, DataFrame, DataFrame]:
        # each dir is listed once, here; the step check, the semi-join,
        # db_meta and the stride-pruned decode all read that listing, and
        # the reference raises when no step survives P3 (DDBbase.py:82-84),
        # before any ibool is read
        frames = specfem.snapshot_frames(spark, force_dirs, spec.name_data)
        stride = range(step0, step1, dstep)
        step_list = stride_steps(specfem.snapshot_listing(frames), len(force_dirs), stride)
        if not step_list:
            raise ValueError("no valid steps: no snapshot step exists in all force dirs")
        steps = local_frame(spark, step_list, "proc int, step int")
        snaps = specfem.read_snapshots(specfem.stride_frames(frames, stride), nspec, kind)
        ngll, records = build_records(
            spark, model_glob, nspec, snaps, steps, kind, points_per_element, encoding_level
        )
        meta = db_meta(
            spark, ngll, step_list, network=network, station=station, kind=kind,
            n_force=len(force_dirs), dt=dt, nspec=nspec,
        )
        return records, meta, steps

    build.__name__ = build.__qualname__ = f"{kind.lower()}_build"
    build.__doc__ = doc
    return build


sgt_build = _make_build(
    "SGT",
    """The full SGT create_db (DSGT.py:40-196).

    Returns (records_with_start, db_meta, valid_steps); caller writes with
    write_db.  The call lists the snapshot dirs (names only) and runs the
    point selection, the one ibool decode of the build, so an ibool decode
    error raises here (after the "no valid steps" check, which reads no
    ibool).  The records are a lazy plan over the snapshot files; db_meta
    and valid_steps are local relations.""",
)
dgf_build = _make_build(
    "DGF",
    """The full DGF create_db (DDGF.py:40-190): displacement scan S5,
    id-gather J2, [para][force][time] flatten, same encode tail.  Like
    ``sgt_build``, the call runs the point selection (so an ibool decode
    error raises here); the records are a lazy plan, db_meta and
    valid_steps local relations.""",
)

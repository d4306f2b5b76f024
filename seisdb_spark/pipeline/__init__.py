"""The real seismic pipelines, Spark-first (SURVEY §7 minimum slice).

Modules:
  - ``fixtures``: deterministic synthetic SPECFEM model/snapshot generator
    (FIXTURES.md §B) — writes the same Fortran-unformatted binary layout the
    reference consumes, so the decode path is exercised on real bytes.
  - ``build``: the SGT/DGF build pipelines as composable DataFrame
    transformations (select points -> valid steps -> assemble -> encode ->
    partitioned sink) plus the inverse read/decode path.
  - ``export``: the reference's literal on-disk layout (per-proc
    concatenated-blob ``.bin``, ``.hdf5`` header and header-table row, in
    one pass) for consumers of the original format.
"""

from seisdb_spark.pipeline.build import (  # noqa: F401
    add_start_offsets,
    append_to_db,
    assemble_series,
    db_meta,
    decode_records,
    dgf_build,
    element_gll_ids,
    encode_records,
    read_db,
    select_gll_points,
    sgt_build,
    valid_steps,
    write_db,
)
from seisdb_spark.pipeline.export import export_reference_format  # noqa: F401
from seisdb_spark.pipeline.fixtures import cached_fixture, generate_fixture  # noqa: F401

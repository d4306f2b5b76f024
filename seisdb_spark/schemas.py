"""Explicit schemas and reference constants.

The reference's schema system is fixed and implicit (hard-coded shapes); here
every long-table schema is an explicit StructType so binary decode paths never
rely on inference (SURVEY.md §1.2).

Reference citations:
  - NGLLX/Y/Z = 5 and the 27-point spatial sub-sampling index:
    /root/reference/seisdb/DSEM_Utils/__init__.py:3-8
  - encoding level (8-bit quantization default): /root/reference/seisdb/DDBbase.py:22
  - 27 points per element default: /root/reference/seisdb/DDBbase.py:21

The per-kind constants (SGT's 6 strain components, DGF's 3 displacement
components, serialization orders, file suffixes; DSGT.py:32-33 /
DDGF.py:32-33) and the long snapshot schemas live in the kind table,
``sources/specfem.py KINDS``, next to the decode kernels.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------- constants
NGLLX = NGLLY = NGLLZ = 5
N_GLL_PER_ELEMENT = NGLLX * NGLLY * NGLLZ  # 125

# The fixed 27-of-125 corner/edge/center sub-sampling index
# (reference: DSEM_Utils/__init__.py:6-8).
INDEX27: tuple[int, ...] = (
    0, 2, 4, 10, 12, 14, 20, 22, 24,
    50, 52, 54, 60, 62, 64, 70, 72, 74,
    100, 102, 104, 110, 112, 114, 120, 122, 124,
)

# The reference re-emits the 27 gathered ids in x-outer / z-inner order
# (ibool_reader.py:82-88): reshape (z,y,x) then iterate i(x), j(y), k(z)
# emitting gll_array[k, j, i].  As a flat permutation of the INDEX27 order:
REORDER27: tuple[int, ...] = tuple(
    k * 9 + j * 3 + i for i in range(3) for j in range(3) for k in range(3)
)

ENCODING_LEVEL_DEFAULT = 8  # DDBbase.py:22 — uint8 codes
DB_VERSION = "0.1.0"

# ---------------------------------------------------------------- schemas

# Spatial index (ibool), one row per element: the element's 125 global GLL
# ids in element-local (i_gll) order.  1-based on disk, 0-based in tables
# (shift applied at decode, ibool_reader.py:31).  The 27-point selection
# explodes the list JVM-side; an element lookup gathers from it.
IBOOL_SCHEMA = T.StructType(
    [
        T.StructField("proc", T.IntegerType(), False),
        T.StructField("i_spec", T.IntegerType(), False),
        T.StructField("gll_ids", T.ArrayType(T.IntegerType(), False), False),
    ]
)

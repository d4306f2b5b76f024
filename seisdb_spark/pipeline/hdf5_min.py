"""Minimal pure-Python HDF5 writer for the reference's header files.

The reference stores per-proc headers as HDF5 (`DSGT.py:119,172-194`): five
1-D datasets (``index``/``start``/``length`` int64, ``offset``/``scale``
float64) plus nine scalar root attributes.  That is a tiny, fixed subset of
the HDF5 format, so the files are emitted directly, with no HDF5
bindings, against the public HDF5 File Format Specification (version 0 superblock, version 1 object headers, contiguous
layout):

    superblock v0 -> root group object header (symbol-table message +
    attribute messages) -> v1 B-tree (one node) -> local heap (link
    names) -> SNOD (symbol entries, name-sorted) -> one object header per
    dataset (dataspace/datatype/fill-value/layout) -> raw data blocks.

Scope limits (all that the reference layout needs): little-endian int64 /
float64 / fixed ASCII strings, 1-D contiguous datasets, scalar attributes,
a single flat root group, <= 8 datasets (one symbol-table leaf node).
Writes are structurally cross-checked by an INDEPENDENT spec-driven parser
in tests/test_hdf5_min.py; pipeline/export.py::export_reference_format
calls it once per proc, from the task that writes the proc's ``.bin``.
"""

from __future__ import annotations

import struct

import numpy as np

UNDEF = 0xFFFFFFFFFFFFFFFF  # the spec's "undefined address" (all ones)

# --- primitive builders ----------------------------------------------------


def _pad8(b: bytes) -> bytes:
    return b + b"\0" * (-len(b) % 8)


def _msg(mtype: int, body: bytes) -> bytes:
    """v1 object-header message: type(2) size(2, padded) flags(1) + 3
    reserved bytes, then the 8-padded body."""
    body = _pad8(body)
    return struct.pack("<HHB3x", mtype, len(body), 0) + body


def _object_header(messages: list[bytes]) -> bytes:
    """v1 object header: prefix (version, n_messages, refcount, size of the
    message block) padded to 8, then the messages."""
    block = b"".join(messages)
    return struct.pack("<BBHII4x", 1, 0, len(messages), 1, len(block)) + block


def _dt_int64() -> bytes:
    # class 0 fixed-point, version 1 (0x10); bit field: signed (bit 3),
    # little-endian (bit 0 clear); size 8; properties: offset 0, precision 64
    return struct.pack("<B3BI", 0x10, 0x08, 0, 0, 8) + struct.pack("<HH", 0, 64)


def _dt_float64() -> bytes:
    # class 1 float, version 1 (0x11); bit field: LE, implied-msb mantissa
    # normalization (bits 4-5 = 2 -> 0x20), sign bit at 63 (second byte);
    # properties: offset 0, precision 64, exp@52 x11, mantissa@0 x52, bias 1023
    return struct.pack("<B3BI", 0x11, 0x20, 0x3F, 0, 8) + struct.pack(
        "<HHBBBBI", 0, 64, 52, 11, 0, 52, 1023
    )


def _dt_string(n: int) -> bytes:
    # class 3 fixed string, version 1 (0x13); null-terminated padding, ASCII
    return struct.pack("<B3BI", 0x13, 0x00, 0, 0, n)


def _ds_simple_1d(n: int) -> bytes:
    # dataspace v1: version, rank 1, flags 0 (no max dims), 5 reserved, dim
    return struct.pack("<BBBB4x", 1, 1, 0, 0) + struct.pack("<Q", n)


def _ds_scalar() -> bytes:
    return struct.pack("<BBBB4x", 1, 0, 0, 0)


def _fill_value_v2_undefined() -> bytes:
    # version 2, alloc time 1 (early), write time 0, fill undefined ->
    # size/value fields omitted per spec
    return struct.pack("<BBBB", 2, 1, 0, 0)


def _layout_contiguous(addr: int, size: int) -> bytes:
    return struct.pack("<BBQQ", 3, 1, addr, size)


def _attr_msg(name: str, dt: bytes, ds: bytes, data: bytes) -> bytes:
    """Attribute message v1: sizes header, then 8-padded name (with NUL),
    8-padded datatype, 8-padded dataspace, then the raw data."""
    nb = name.encode("ascii") + b"\0"
    head = struct.pack("<BBHHH", 1, 0, len(nb), len(dt), len(ds))
    return head + _pad8(nb) + _pad8(dt) + _pad8(ds) + data


def _attr_for(name: str, value) -> bytes:
    if isinstance(value, (bool, np.bool_)):
        value = int(value)
    if isinstance(value, (int, np.integer)):
        return _attr_msg(
            name, _dt_int64(), _ds_scalar(), struct.pack("<q", int(value))
        )
    if isinstance(value, (float, np.floating)):
        return _attr_msg(
            name, _dt_float64(), _ds_scalar(), struct.pack("<d", float(value))
        )
    if isinstance(value, (str, bytes)):
        raw = value.encode("ascii") if isinstance(value, str) else value
        raw += b"\0"  # null-terminated fixed string
        return _attr_msg(name, _dt_string(len(raw)), _ds_scalar(), raw)
    raise TypeError(f"unsupported attribute type for {name}: {type(value)}")


def _dataset_header(arr: np.ndarray, data_addr: int) -> bytes:
    if arr.dtype == np.int64:
        dt = _dt_int64()
    elif arr.dtype == np.float64:
        dt = _dt_float64()
    else:
        raise TypeError(f"unsupported dataset dtype {arr.dtype}")
    n = arr.shape[0]
    addr = data_addr if n else UNDEF  # empty dataset: no storage allocated
    return _object_header(
        [
            _msg(0x0001, _ds_simple_1d(n)),
            _msg(0x0003, dt),
            _msg(0x0005, _fill_value_v2_undefined()),
            _msg(0x0008, _layout_contiguous(addr, arr.nbytes)),
        ]
    )


# --- file assembly ---------------------------------------------------------


def write_hdf5(path: str, datasets: dict[str, np.ndarray], attrs: dict) -> None:
    """Write a flat HDF5 file: root-group scalar ``attrs`` plus 1-D
    contiguous ``datasets`` (int64/float64), little-endian throughout."""
    if not datasets:
        raise ValueError("at least one dataset required")
    if len(datasets) > 8:
        raise ValueError("single-leaf writer supports at most 8 datasets")
    arrays = {
        name: np.ascontiguousarray(
            arr, dtype=np.float64 if np.asarray(arr).dtype.kind == "f" else np.int64
        )
        for name, arr in datasets.items()
    }
    names = sorted(arrays)  # SNOD entries must be link-name ordered

    # local heap data: offset 0 holds the empty string (the root entry's
    # link name); dataset names follow, each NUL-terminated and 8-aligned
    heap_data = b"\0" * 8
    name_off = {}
    for name in names:
        name_off[name] = len(heap_data)
        heap_data += _pad8(name.encode("ascii") + b"\0")

    # fixed sizes first, then assign every address in file order.  TREE and
    # SNOD regions are reserved at FULL node capacity (libhdf5 reads whole
    # fixed-size nodes: a group B-tree node is 24 + (2K+1)*8 keys + 2K*8
    # children with internal K=16 -> 544 bytes; a SNOD is 8 + 2K*40 with
    # leaf K=4 -> 328 bytes, the superblock's declared K values) and
    # zero-padded past the used entries — a truncated node near EOF would
    # make libhdf5's fixed-size read run off the end of a small file even
    # though entry-counting parsers accept it.
    SUPER, BTREE, HEAPHDR = 96, 24 + 33 * 8 + 32 * 8, 32
    snod_size = 8 + 2 * 4 * 40
    ds_header_size = {
        n: len(_dataset_header(arrays[n], 0)) for n in names
    }  # address value doesn't change the size (fixed-width fields)

    def root_header(btree_addr: int, heap_addr: int) -> bytes:
        msgs = [_msg(0x0011, struct.pack("<QQ", btree_addr, heap_addr))]
        msgs += [_msg(0x000C, _attr_for(k, v)) for k, v in attrs.items()]
        return _object_header(msgs)

    root_size = len(root_header(0, 0))

    pos = SUPER
    root_addr = pos
    pos += root_size
    btree_addr = pos
    pos += BTREE
    heap_addr = pos
    heap_data_addr = heap_addr + HEAPHDR
    pos = heap_data_addr + len(heap_data)
    snod_addr = pos
    pos += snod_size
    pos += -pos % 8
    hdr_addr = {}
    for n in names:
        hdr_addr[n] = pos
        pos += ds_header_size[n]
        pos += -pos % 8
    data_addr = {}
    for n in names:
        data_addr[n] = pos
        pos += arrays[n].nbytes
        pos += -pos % 8
    eof = pos

    out = bytearray()
    # superblock v0: signature, versions, 8-byte offsets/lengths, tree K
    # parameters, base/freespace/EOF/driver addresses, then the root
    # group's symbol table entry with cached (btree, heap) scratch
    out += b"\x89HDF\r\n\x1a\n"
    out += struct.pack("<BBBBBBBB", 0, 0, 0, 0, 0, 8, 8, 0)
    out += struct.pack("<HHI", 4, 16, 0)  # leaf K, internal K, flags
    out += struct.pack("<QQQQ", 0, UNDEF, eof, UNDEF)
    out += struct.pack("<QQIIQQ", 0, root_addr, 1, 0, btree_addr, heap_addr)
    assert len(out) == SUPER

    out += root_header(btree_addr, heap_addr)

    # v1 B-tree, one leaf: keys are heap offsets; key0 = empty string
    # (sorts first), key1 = the largest link name in the child; the rest of
    # the fixed-capacity node is zero fill
    out += b"TREE" + struct.pack("<BBHQQ", 0, 0, 1, UNDEF, UNDEF)
    out += struct.pack("<QQQ", 0, snod_addr, name_off[names[-1]])
    out += b"\0" * (btree_addr + BTREE - len(out))
    assert len(out) == btree_addr + BTREE

    out += b"HEAP" + struct.pack("<B3xQQQ", 0, len(heap_data), UNDEF, heap_data_addr)
    out += heap_data

    out += b"SNOD" + struct.pack("<BBH", 1, 0, len(names))
    for n in names:
        out += struct.pack("<QQII16x", name_off[n], hdr_addr[n], 0, 0)
    out += b"\0" * (snod_addr + snod_size - len(out))

    for n in names:
        out += b"\0" * (hdr_addr[n] - len(out))
        out += _dataset_header(arrays[n], data_addr[n])
    for n in names:
        out += b"\0" * (data_addr[n] - len(out))
        out += arrays[n].tobytes()
    out += b"\0" * (eof - len(out))

    with open(path, "wb") as fh:
        fh.write(bytes(out))

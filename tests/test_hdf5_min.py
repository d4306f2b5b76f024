"""Structural verification of the minimal HDF5 writer against an
INDEPENDENT parser written from the public HDF5 File Format Specification
(superblock v0 / v1 object headers / v1 B-tree / local heap / SNOD /
contiguous layout).  The parser navigates the file the way libhdf5 does —
signature, addresses, message walk — rather than mirroring the writer's
assembly order, so a structural mistake on either side breaks the
round-trip."""

from __future__ import annotations

import glob
import struct

import numpy as np
import pandas as pd
import pytest

UNDEF = 0xFFFFFFFFFFFFFFFF


# --- independent reader ----------------------------------------------------


def _read_messages(buf: bytes, addr: int) -> list[tuple[int, bytes]]:
    """Parse a v1 object header at addr -> [(msg_type, body), ...]."""
    version, _, n_msgs, refcount, size = struct.unpack_from("<BBHII", buf, addr)
    assert version == 1, f"object header version {version}"
    assert refcount >= 1
    pos = addr + 16  # 12-byte prefix + 4 pad
    end = pos + size
    out = []
    for _ in range(n_msgs):
        assert pos < end, "message walk ran past declared header size"
        mtype, msize, flags = struct.unpack_from("<HHB", buf, pos)
        assert msize % 8 == 0, "message bodies must be 8-padded"
        body = buf[pos + 8 : pos + 8 + msize]
        out.append((mtype, body))
        pos += 8 + msize
    assert pos == end, "declared object header size mismatch"
    return out


def _parse_datatype(body: bytes):
    cls_ver = body[0]
    version, cls = cls_ver >> 4, cls_ver & 0xF
    assert version == 1
    (size,) = struct.unpack_from("<I", body, 4)
    if cls == 0:  # fixed-point
        bit0 = body[1]
        assert bit0 & 0x01 == 0, "expected little-endian"
        signed = bool(bit0 & 0x08)
        off, prec = struct.unpack_from("<HH", body, 8)
        assert (off, prec, size) == (0, 64, 8)
        return np.dtype("<i8") if signed else np.dtype("<u8")
    if cls == 1:  # float
        off, prec, eloc, esz, mloc, msz, bias = struct.unpack_from(
            "<HHBBBBI", body, 8
        )
        assert (off, prec, eloc, esz, mloc, msz, bias, size) == (
            0, 64, 52, 11, 0, 52, 1023, 8,
        ), "not IEEE f64le"
        return np.dtype("<f8")
    if cls == 3:  # fixed string
        return ("str", size)
    raise AssertionError(f"unexpected datatype class {cls}")


def _parse_dataspace(body: bytes):
    version, rank, flags = body[0], body[1], body[2]
    assert version == 1
    if rank == 0:
        return None  # scalar
    assert rank == 1
    (dim,) = struct.unpack_from("<Q", body, 8)
    return dim


def read_hdf5(path: str):
    """Parse a (subset) HDF5 file -> (datasets dict, attrs dict)."""
    buf = open(path, "rb").read()
    assert buf[:8] == b"\x89HDF\r\n\x1a\n", "bad signature"
    sb_ver, fs_ver, rg_ver, _, shm_ver, so, sl, _ = struct.unpack_from(
        "<8B", buf, 8
    )
    assert (sb_ver, fs_ver, rg_ver, shm_ver) == (0, 0, 0, 0)
    assert (so, sl) == (8, 8)
    leaf_k, internal_k, flags = struct.unpack_from("<HHI", buf, 16)
    assert leaf_k > 0 and internal_k > 0
    base, _freespace, eof, _driver = struct.unpack_from("<QQQQ", buf, 24)
    assert base == 0 and eof == len(buf), "EOF address must equal file size"
    # root symbol table entry
    link_off, root_addr, cache_type = struct.unpack_from("<QQI", buf, 56)
    assert link_off == 0

    msgs = _read_messages(buf, root_addr)
    attrs: dict = {}
    btree_addr = heap_addr = None
    for mtype, body in msgs:
        if mtype == 0x0011:  # symbol table
            btree_addr, heap_addr = struct.unpack_from("<QQ", body, 0)
        elif mtype == 0x000C:  # attribute
            ver, _, nsz, dtsz, dssz = struct.unpack_from("<BBHHH", body, 0)
            assert ver == 1
            pos = 8
            name = body[pos : pos + nsz].split(b"\0")[0].decode()
            pos += -(-nsz // 8) * 8
            dt = _parse_datatype(body[pos : pos + dtsz])
            pos += -(-dtsz // 8) * 8
            shape = _parse_dataspace(body[pos : pos + dssz])
            pos += -(-dssz // 8) * 8
            assert shape is None, "attrs here are scalar"
            if isinstance(dt, tuple):  # fixed string
                attrs[name] = body[pos : pos + dt[1]].split(b"\0")[0].decode()
            else:
                attrs[name] = np.frombuffer(body[pos : pos + 8], dtype=dt)[0]
    assert btree_addr is not None, "root has no symbol table message"

    # local heap: name lookup for SNOD entries
    assert buf[heap_addr : heap_addr + 4] == b"HEAP"
    heap_ver = buf[heap_addr + 4]
    assert heap_ver == 0
    heap_size, _freelist, heap_data = struct.unpack_from("<QQQ", buf, heap_addr + 8)

    def heap_name(off: int) -> str:
        raw = buf[heap_data + off : heap_data + off + 256]
        return raw.split(b"\0")[0].decode()

    # B-tree node -> SNOD children
    assert buf[btree_addr : btree_addr + 4] == b"TREE"
    ntype, level, n_entries = struct.unpack_from("<BBH", buf, btree_addr + 4)
    assert (ntype, level) == (0, 0)
    children = []
    pos = btree_addr + 24
    for i in range(n_entries):
        _key, child = struct.unpack_from("<QQ", buf, pos)
        children.append(child)
        pos += 16

    datasets: dict[str, np.ndarray] = {}
    order: list[str] = []
    for snod in children:
        assert buf[snod : snod + 4] == b"SNOD"
        sver, _, nsym = struct.unpack_from("<BBH", buf, snod + 4)
        assert sver == 1
        for i in range(nsym):
            ep = snod + 8 + 40 * i
            name_off, hdr, ctype = struct.unpack_from("<QQI", buf, ep)
            name = heap_name(name_off)
            order.append(name)
            dt = shape = layout = None
            for mtype, body in _read_messages(buf, hdr):
                if mtype == 0x0001:
                    shape = _parse_dataspace(body)
                elif mtype == 0x0003:
                    dt = _parse_datatype(body)
                elif mtype == 0x0008:
                    ver, lclass = body[0], body[1]
                    assert (ver, lclass) == (3, 1), "expect v3 contiguous"
                    layout = struct.unpack_from("<QQ", body, 2)
            assert dt is not None and shape is not None and layout is not None
            addr, nbytes = layout
            assert nbytes == shape * dt.itemsize
            if shape == 0:
                assert addr == UNDEF, "empty dataset must have no storage"
                datasets[name] = np.empty(0, dtype=dt)
            else:
                datasets[name] = np.frombuffer(
                    buf[addr : addr + nbytes], dtype=dt
                ).copy()
    assert order == sorted(order), "SNOD entries must be link-name sorted"
    return datasets, attrs


# --- tests -----------------------------------------------------------------


def test_write_read_roundtrip_mixed_types(tmp_path):
    from seisdb_spark.pipeline.hdf5_min import write_hdf5

    rng = np.random.default_rng(5)
    datasets = {
        "index": np.arange(27, dtype=np.int64),
        "start": (np.arange(27, dtype=np.int64) * 131),
        "offset": rng.normal(size=27),
        "scale": rng.random(27),
        "empty": np.empty(0, dtype=np.int64),
    }
    attrs = {
        "ngll": 27, "dt": 0.05, "type": "SGT", "forder": "F",
        "version": "v1.0", "nspec": 2,
    }
    path = tmp_path / "probe.hdf5"
    write_hdf5(str(path), datasets, attrs)

    got_ds, got_attrs = read_hdf5(str(path))
    assert set(got_ds) == set(datasets)
    for k, arr in datasets.items():
        np.testing.assert_array_equal(got_ds[k], arr)
        assert got_ds[k].dtype == arr.dtype
    assert got_attrs["ngll"] == 27 and got_attrs["nspec"] == 2
    assert got_attrs["dt"] == pytest.approx(0.05)
    assert got_attrs["type"] == "SGT"
    assert got_attrs["forder"] == "F"
    assert got_attrs["version"] == "v1.0"


def test_reference_header_files_match_parquet_table(spark, sgt_records, tmp_path):
    """End-to-end: SGT build (the session build of the default 2-proc
    fixture) -> reference export -> literal .hdf5 header files; every
    file's datasets/attrs must equal its parquet header row (the surface
    DSGT.py:172-194 writes)."""
    from seisdb_spark.pipeline.export import export_reference_format

    pdf, meta, _steps = sgt_records
    out = str(tmp_path / "db")
    export_reference_format(spark.createDataFrame(pdf), meta, out)
    paths = sorted(glob.glob(f"{out}/*.hdf5"))
    assert len(paths) == 2 and all(p.endswith("_header.hdf5") for p in paths)

    table = (
        spark.read.parquet(f"{out}/headers_parquet").toPandas().sort_values("proc")
    )
    for path, row in zip(paths, table.itertuples(index=False), strict=True):
        assert f"{row.proc_name}_header.hdf5" in path
        ds, attrs = read_hdf5(path)
        np.testing.assert_array_equal(ds["index"], np.asarray(list(row.index)))
        np.testing.assert_array_equal(ds["start"], np.asarray(list(row.start)))
        np.testing.assert_array_equal(
            ds["length"], np.asarray(list(row.length_sizeof))
        )
        np.testing.assert_allclose(ds["offset"], np.asarray(list(row.offset)))
        np.testing.assert_allclose(ds["scale"], np.asarray(list(row.scale)))
        assert attrs["ngll"] == row.ngll and attrs["nstep"] == row.nstep
        assert attrs["nforce"] == row.nforce and attrs["nparas"] == row.nparas
        assert attrs["dt"] == pytest.approx(row.dt)
        assert attrs["nspec"] == row.nspec
        assert attrs["type"] == row.type
        assert attrs["forder"] == row.forder
        assert attrs["version"] == row.version


def test_structural_spec_constants(tmp_path):
    """Byte-level spec anchors: signature, version bytes, offset sizes,
    8-alignment of every structure the superblock reaches."""
    from seisdb_spark.pipeline.hdf5_min import write_hdf5

    path = tmp_path / "s.hdf5"
    write_hdf5(
        str(path), {"a": np.arange(3, dtype=np.int64)}, {"x": 1, "s": "ok"}
    )
    buf = open(path, "rb").read()
    assert buf[:8] == bytes([0x89, 0x48, 0x44, 0x46, 0x0D, 0x0A, 0x1A, 0x0A])
    assert buf[13] == 8 and buf[14] == 8  # offset/length sizes
    (eof,) = struct.unpack_from("<Q", buf, 40)
    assert eof == len(buf)
    (root_addr,) = struct.unpack_from("<Q", buf, 64)
    assert root_addr % 8 == 0
    for msg_type, _ in _read_messages(buf, root_addr):
        assert msg_type in (0x0000, 0x0011, 0x000C)


def test_property_roundtrip_random_shapes_and_values(tmp_path):
    """Property sweep via hypothesis-style randomized cases: random dataset
    counts/sizes/dtypes — including NaN, +/-inf, extreme ints, and sizes
    that push data blocks well past the header region — must round-trip
    bit-exactly through the independent parser."""
    from seisdb_spark.pipeline.hdf5_min import write_hdf5

    rng = np.random.default_rng(11)
    for case in range(12):
        n_ds = int(rng.integers(1, 9))
        datasets = {}
        for i in range(n_ds):
            n = int(rng.choice([0, 1, 2, 27, 125, 2048]))
            if rng.random() < 0.5:
                arr = rng.integers(-(2**62), 2**62, size=n, dtype=np.int64)
            else:
                arr = rng.normal(size=n)
                if n >= 3:
                    arr[0], arr[1], arr[2] = np.nan, np.inf, -np.inf
            datasets[f"ds{i:02d}"] = arr
        attrs = {
            "i": int(rng.integers(-(2**62), 2**62)),
            "f": float(rng.normal()),
            "s": "".join(rng.choice(list("abcXYZ09"), size=int(rng.integers(1, 30)))),
        }
        path = tmp_path / f"case{case}.hdf5"
        write_hdf5(str(path), datasets, attrs)
        ds, got_attrs = read_hdf5(str(path))
        assert set(ds) == set(datasets)
        for k, arr in datasets.items():
            want = np.asarray(
                arr, dtype=np.float64 if np.asarray(arr).dtype.kind == "f" else np.int64
            )
            # bit-exact: NaNs compare by payload, not value
            assert ds[k].tobytes() == want.tobytes(), f"case {case} ds {k}"
        assert got_attrs["i"] == attrs["i"]
        assert np.float64(got_attrs["f"]) == np.float64(attrs["f"])
        assert got_attrs["s"] == attrs["s"]

    import pytest

    with pytest.raises(ValueError, match="at least one dataset"):
        write_hdf5(str(tmp_path / "none.hdf5"), {}, {"a": 1})

"""Minimal pure-Python HDF5 writer/reader (classic format).

This container ships no HDF5 library (no h5py/libhdf5), but the
reference's second binary produces a real ``.h5`` SONATA file
(``src/circuit/sonata_file.cpp:45-143``).  Rather than leaving
the ``.h5`` export permanently gated on an absent dependency, this module
implements the small slice of the PUBLIC HDF5 File Format
Specification (classic/v0 layout, the format libhdf5 has written since
HDF5 1.0) that a SONATA edge file needs:

- superblock version 0;
- version-1 object headers (no checksums anywhere in the classic
  structures);
- old-style groups: v1 B-tree + local heap + symbol-table node, one
  SNOD per group (capacity 2·K = 32 links — SONATA groups stay far
  below);
- contiguous 1-D/2-D datasets of signed integers, IEEE floats and
  fixed-length ASCII strings;
- CHUNKED datasets (v1 type-1 chunk B-tree, any depth) with the
  deflate filter (stdlib zlib) — what libhdf5 pipelines typically
  write — plus read-side support for the shuffle filter;
- scalar string / int64 attributes on groups and datasets.

Everything is little-endian with 8-byte offsets/lengths, matching what
libhdf5 emits on commodity hardware.  The sibling :class:`MiniH5Reader`
parses the same slice independently (from the spec, not by sharing the
writer's serializers) so tests can round-trip without h5py; when h5py
IS present, ``tests/test_sonata.py`` validates the written file with
it too.

This is deliberately NOT a general HDF5 implementation: no compact
layouts, variable-length types, >32-link groups, filters beyond
deflate/shuffle, or mutation.
"""

from __future__ import annotations

import struct

import numpy as np

UNDEF = 0xFFFFFFFFFFFFFFFF
_K = 16  # group B-tree leaf K -> one SNOD holds up to 2K=32 links
_SNOD_CAP = 2 * _K


def _pad8(n: int) -> int:
    return (n + 7) & ~7


def _padded(b: bytes) -> bytes:
    return b + b"\x00" * (_pad8(len(b)) - len(b))


# --- datatype / dataspace message bodies (spec layout IV.A.2) ---------------


def _dt_fixed(size: int) -> bytes:
    # class 0 fixed-point, version 1; LE, signed (bit 3)
    return struct.pack(
        "<B3BI2H", 0x10, 0x08, 0, 0, size, 0, 8 * size
    )


def _dt_float(size: int) -> bytes:
    # class 1 float, version 1; LE, implied-MSB mantissa, IEEE layout
    if size == 4:
        sign, exp_loc, exp_sz, man_sz, bias = 31, 23, 8, 23, 127
    elif size == 8:
        sign, exp_loc, exp_sz, man_sz, bias = 63, 52, 11, 52, 1023
    else:  # pragma: no cover - guarded by _datatype
        raise ValueError(size)
    return struct.pack(
        "<B3BI2H4BI",
        0x11, 0x20, sign, 0, size, 0, 8 * size,
        exp_loc, exp_sz, 0, man_sz, bias,
    )


def _dt_string(size: int) -> bytes:
    # class 3 string, version 1; null-terminated, ASCII
    return struct.pack("<B3BI", 0x13, 0, 0, 0, size)


def _datatype(dtype: np.dtype) -> bytes:
    if dtype.kind == "i":
        return _dt_fixed(dtype.itemsize)
    if dtype.kind == "f":
        return _dt_float(dtype.itemsize)
    if dtype.kind == "S":
        return _dt_string(max(dtype.itemsize, 1))
    raise TypeError(
        f"MiniH5 supports signed int / float / fixed-string data, got {dtype}"
    )


def _dataspace(shape: tuple[int, ...]) -> bytes:
    body = struct.pack("<BBB5x", 1, len(shape), 0)
    for d in shape:
        body += struct.pack("<Q", d)
    return body


def _attr_message(name: str, value) -> bytes:
    """Attribute message body (version 1): scalar string or int64."""
    if isinstance(value, (bytes, str)):
        raw = value.encode() if isinstance(value, str) else value
        if b"\x00" in raw:
            raise ValueError(
                "HDF5 null-terminated strings cannot contain NUL bytes"
            )
        dt = _dt_string(max(len(raw), 1))
        data = raw
    elif isinstance(value, (int, np.integer)):
        dt = _dt_fixed(8)
        data = struct.pack("<q", int(value))
    elif isinstance(value, float):
        dt = _dt_float(8)
        data = struct.pack("<d", value)
    else:
        raise TypeError(f"unsupported attribute type {type(value)}")
    ds = _dataspace(())  # scalar
    nm = name.encode() + b"\x00"
    body = struct.pack("<BBHHH", 1, 0, len(nm), len(dt), len(ds))
    body += _padded(nm) + _padded(dt) + _padded(ds) + data
    return body


def _message(mtype: int, body: bytes) -> bytes:
    body = _padded(body)
    return struct.pack("<HHB3x", mtype, len(body), 0) + body


def _object_header(messages: list[bytes]) -> bytes:
    data = b"".join(messages)
    return struct.pack("<BBHII4x", 1, 0, len(messages), 1, len(data)) + data


# --- chunked-layout structures (spec III.A.1 v1 B-tree type 1, IV.A.2.i/l) --

_CHUNK_NODE_CAP = 2 * _K  # children per chunk-B-tree node


def _layout_chunked(btree_addr: int, chunk_shape, itemsize: int) -> bytes:
    # data layout message v3 class 2: dimensionality is ndims+1, the
    # final "dimension" being the element size in bytes
    dims = tuple(chunk_shape) + (itemsize,)
    return (
        struct.pack("<BBB", 3, 2, len(dims))
        + struct.pack("<Q", btree_addr)
        + struct.pack(f"<{len(dims)}I", *dims)
    )


def _filter_pipeline(shuffle: bool, gzip_level: int | None) -> bytes:
    # filter pipeline v1, filters in APPLY order; no names (standard
    # ids); deflate carries one client value (the level) -> odd count
    # adds 4 pad bytes
    descs, nf = b"", 0
    if shuffle:
        descs += struct.pack("<HHHH", 2, 0, 0, 0)
        nf += 1
    if gzip_level is not None:
        descs += (
            struct.pack("<HHHH", 1, 0, 0, 1)
            + struct.pack("<I", gzip_level)
            + b"\x00" * 4
        )
        nf += 1
    return struct.pack("<BB6x", 1, nf) + descs


def _btree_level_counts(n_chunks: int) -> list[int]:
    """Nodes per level, leaves first, ending with the single root."""
    counts, cnt = [], n_chunks
    while True:
        nodes = -(-cnt // _CHUNK_NODE_CAP)
        counts.append(nodes)
        if nodes == 1:
            return counts
        cnt = nodes


def decode_chunk(
    blob: bytes,
    filters: list[tuple[int, int]],
    mask: int,
    dtype: np.dtype,
    chunk_shape,
    name: str = "?",
) -> np.ndarray:
    """Reverse the filter pipeline on one stored chunk and shape it.
    Standalone (no reader instance) so parallel readers can run it on
    executors against bytes they fetched themselves."""
    import zlib

    for i in range(len(filters) - 1, -1, -1):
        fid, _flags = filters[i]
        if mask & (1 << i):  # filter skipped for this chunk at write
            continue
        if fid == 1:  # deflate
            blob = zlib.decompress(blob)
        elif fid == 2:  # shuffle: de-interleave bytes
            n = len(blob) // dtype.itemsize
            blob = (
                np.frombuffer(blob, np.uint8)
                .reshape(dtype.itemsize, n)
                .T.tobytes()
            )
        else:
            raise NotImplementedError(
                f"dataset {name!r}: unsupported HDF5 filter id "
                f"{fid} — install h5py"
            )
    return np.frombuffer(blob, dtype=dtype).reshape(chunk_shape)


def _chunk_key(size: int, mask: int, offsets, ndp1: int) -> bytes:
    offs = tuple(offsets) + (0,) * (ndp1 - len(offsets))
    return struct.pack("<II", size, mask) + struct.pack(
        f"<{ndp1}Q", *offs
    )


class _Node:
    def __init__(self, name: str):
        self.name = name
        self.attrs: dict[str, object] = {}
        self.addr = 0  # object header address, assigned at write


class _Group(_Node):
    def __init__(self, name: str):
        super().__init__(name)
        self.children: dict[str, _Node] = {}


class _Dataset(_Node):
    def __init__(
        self,
        name: str,
        data: np.ndarray,
        chunks: tuple[int, ...] | None = None,
        compression: str | None = None,
        shuffle: bool = False,
    ):
        super().__init__(name)
        if data.dtype.kind not in "ifS":
            raise TypeError(f"unsupported dataset dtype {data.dtype}")
        if data.dtype.kind in "if" and data.dtype.byteorder == ">":
            data = data.astype(data.dtype.newbyteorder("<"))
        if data.dtype == np.dtype("S0"):  # all-empty strings
            data = data.astype("S1")
        self.data = np.ascontiguousarray(data)
        self.shape = self.data.shape
        self.nbytes = self.data.nbytes
        if compression not in (None, "gzip"):
            raise ValueError(f"unsupported compression {compression!r}")
        if (compression or shuffle) and not chunks:
            raise ValueError("filters require chunks")
        if chunks is not None:
            if data.ndim == 0 or data.size == 0:
                raise ValueError("chunking needs a non-empty array")
            chunks = tuple(int(c) for c in chunks)
            if len(chunks) != data.ndim or any(c < 1 for c in chunks):
                raise ValueError(
                    f"chunk shape {chunks} incompatible with {data.shape}"
                )
        self.chunks = chunks
        self.compression = compression
        self.shuffle = shuffle

    def chunk_blobs(self) -> list[tuple[tuple[int, ...], bytes]]:
        """(grid offset in elements, stored bytes) per chunk, row-major
        over the chunk grid.  Edge chunks are zero-padded to the FULL
        chunk shape before filtering, as the format requires."""
        import itertools
        import zlib

        grid = [
            range(0, s, c) for s, c in zip(self.shape, self.chunks)
        ]
        out = []
        for off in itertools.product(*grid):
            full = np.zeros(self.chunks, dtype=self.data.dtype)
            sel = tuple(
                slice(o, min(o + c, s))
                for o, c, s in zip(off, self.chunks, self.shape)
            )
            dst = tuple(slice(0, sl.stop - sl.start) for sl in sel)
            full[dst] = self.data[sel]
            blob = full.tobytes()
            if self.shuffle:
                # byte transpose: all 0th element-bytes, then all 1st...
                blob = (
                    np.frombuffer(blob, np.uint8)
                    .reshape(-1, self.data.dtype.itemsize)
                    .T.tobytes()
                )
            if self.compression == "gzip":
                blob = zlib.compress(blob, 6)
            out.append((off, blob))
        return out


class _Placeholder(_Dataset):
    """A dataset whose METADATA (shape, dtype, layout address) is
    written by the driver but whose data region is left zero-filled for
    out-of-process writers to fill at the layout offset afterwards —
    the minimal-HDF5 analogue of creating a dataset collectively and
    hyperslab-writing it per rank (reference
    ``src/circuit/sonata_file.cpp:98-101,123-143``)."""

    def __init__(self, name: str, shape: tuple[int, ...], dtype):
        dt = np.dtype(dtype)
        # zero-row probe array carries dtype/itemsize through the
        # normal _Dataset checks; shape/nbytes come from the declared
        # shape instead of the array
        super().__init__(name, np.zeros(0, dtype=dt))
        self.shape = tuple(int(s) for s in shape)
        self.nbytes = int(np.prod(self.shape)) * self.data.dtype.itemsize


class _ChunkedPlaceholder(_Dataset):
    """A CHUNKED dataset whose metadata — shape, dtype, chunk grid,
    filter pipeline and the stored byte size of every chunk — is written
    by the driver, while the chunk data regions are left for external
    writers to fill at the per-chunk addresses published in
    :attr:`MiniH5Writer.data_offsets`.  This is what makes a parallel
    COMPRESSED export possible: compressed chunk sizes are
    data-dependent, so a first pass computes them, the driver lays out
    the B-tree from the sizes alone, and a second pass writes each blob
    at its assigned offset (the two-pass analogue of
    :class:`_Placeholder`'s fixed-stride contiguous fill)."""

    def __init__(
        self,
        name: str,
        shape: tuple[int, ...],
        dtype,
        chunks: tuple[int, ...],
        chunk_sizes: list[int],
        compression: str | None = None,
        shuffle: bool = False,
    ):
        dt = np.dtype(dtype)
        super().__init__(name, np.zeros(0, dtype=dt))
        self.shape = tuple(int(s) for s in shape)
        self.nbytes = int(np.prod(self.shape)) * dt.itemsize
        chunks = tuple(int(c) for c in chunks)
        if len(chunks) != len(self.shape) or any(c < 1 for c in chunks):
            raise ValueError(
                f"chunk shape {chunks} incompatible with {self.shape}"
            )
        if compression not in (None, "gzip"):
            raise ValueError(f"unsupported compression {compression!r}")
        self.chunks = chunks
        self.compression = compression
        self.shuffle = shuffle
        n_expected = 1
        for s, c in zip(self.shape, chunks):
            n_expected *= -(-s // c)
        if len(chunk_sizes) != n_expected:
            raise ValueError(
                f"{len(chunk_sizes)} chunk sizes for a "
                f"{n_expected}-chunk grid"
            )
        self.chunk_sizes = [int(x) for x in chunk_sizes]

    def grid_offsets(self) -> list[tuple[int, ...]]:
        import itertools

        return list(
            itertools.product(
                *[range(0, s, c) for s, c in zip(self.shape, self.chunks)]
            )
        )


class MiniH5Writer:
    """Write-once builder: ``create_group`` / ``create_dataset`` /
    ``set_attr``, then ``write(path)`` serializes the whole file."""

    def __init__(self):
        self.root = _Group("")

    # -- construction -----------------------------------------------------
    def _walk(self, path: str, create: bool) -> _Node:
        node: _Node = self.root
        for part in [p for p in path.strip("/").split("/") if p]:
            if not isinstance(node, _Group):
                raise ValueError(f"{path!r}: {node.name!r} is a dataset")
            if part not in node.children:
                if not create:
                    raise KeyError(path)
                node.children[part] = _Group(part)
            node = node.children[part]
        return node

    def create_group(self, path: str) -> None:
        self._walk(path, create=True)

    def _dataset_parent(self, path: str) -> tuple[_Group, str]:
        parts = path.strip("/").split("/")
        parent = self._walk("/".join(parts[:-1]), create=True)
        if not isinstance(parent, _Group):
            raise ValueError(
                f"{path!r}: parent {parent.name!r} is a dataset, not a group"
            )
        if parts[-1] in parent.children:
            raise ValueError(f"{path!r} already exists")
        return parent, parts[-1]

    def create_dataset(
        self,
        path: str,
        data,
        chunks: tuple[int, ...] | None = None,
        compression: str | None = None,
        shuffle: bool = False,
    ) -> None:
        parent, name = self._dataset_parent(path)
        arr = np.asarray(data)
        if arr.dtype.kind == "U":
            arr = arr.astype("S")
        if arr.dtype.kind == "O":
            flat = arr.ravel()
            for v in flat:
                if not isinstance(v, (str, bytes)):
                    # HDF5 fixed-width strings have no NULL: str(None)
                    # would silently write (a truncation of) b'None'
                    raise ValueError(
                        f"dataset {path!r}: non-string value {v!r} in "
                        "string column — fill or drop NULLs before export"
                    )
            arr = np.asarray(
                [v.encode() if isinstance(v, str) else v for v in flat],
                dtype="S",
            ).reshape(arr.shape)
        parent.children[name] = _Dataset(
            name, arr, chunks=chunks, compression=compression,
            shuffle=shuffle,
        )

    def create_placeholder(
        self, path: str, shape: tuple[int, ...], dtype
    ) -> None:
        """Declare a dataset by shape/dtype only: ``write()`` lays out
        its metadata and zero-fills its data region; the assigned file
        offset is available in :attr:`data_offsets` afterwards so
        external processes can fill the region in parallel."""
        parent, name = self._dataset_parent(path)
        parent.children[name] = _Placeholder(name, shape, dtype)

    def create_chunked_placeholder(
        self,
        path: str,
        shape: tuple[int, ...],
        dtype,
        chunks: tuple[int, ...],
        chunk_sizes: list[int],
        compression: str | None = None,
        shuffle: bool = False,
    ) -> None:
        """Declare a chunked dataset by shape/dtype/chunk grid and the
        STORED byte size of each chunk (row-major grid order) — the
        driver writes the full metadata + B-tree and ``write()``
        publishes the per-chunk file addresses in
        ``data_offsets[path]["chunk_addrs"]`` for external parallel
        writers to fill."""
        parent, name = self._dataset_parent(path)
        parent.children[name] = _ChunkedPlaceholder(
            name, shape, dtype, chunks, chunk_sizes,
            compression=compression, shuffle=shuffle,
        )

    def set_attr(self, path: str, name: str, value) -> None:
        self._walk(path, create=True).attrs[name] = value

    # -- serialization ----------------------------------------------------
    def _group_blocks(self, g: _Group) -> dict:
        """Pre-size the group's heap/btree/snod (addresses patched later)."""
        names = sorted(g.children)
        if len(names) > _SNOD_CAP:
            raise ValueError(
                f"MiniH5 group {g.name!r} has {len(names)} links; "
                f"max {_SNOD_CAP}"
            )
        heap_off, offs = 8, {}
        for n in names:
            offs[n] = heap_off
            heap_off += _pad8(len(n) + 1)
        return {
            "names": names,
            "name_off": offs,
            "heap_data_size": max(heap_off, 8),
        }

    def write(self, path: str) -> None:
        groups: list[_Group] = []
        datasets: list[_Dataset] = []
        full_path: dict[int, str] = {}

        def collect(n: _Node, prefix: str):
            full_path[id(n)] = prefix or "/"
            if isinstance(n, _Group):
                groups.append(n)
                for c in sorted(n.children):
                    collect(n.children[c], f"{prefix}/{c}")
            else:
                datasets.append(n)  # type: ignore[arg-type]

        collect(self.root, "")

        meta = {id(g): self._group_blocks(g) for g in groups}
        btree_size = 24 + (2 * _K + 1) * 8 + 2 * _K * 8
        snod_size = 8 + _SNOD_CAP * 40

        # one sequential address-assignment pass
        pos = 96  # superblock v0 incl. root symbol-table entry

        def take(n: int) -> int:
            nonlocal pos
            a = pos
            pos += _pad8(n)
            return a

        layout: dict[int, dict] = {}
        for g in groups:
            m = meta[id(g)]
            ohdr = _object_header(
                [_message(0x0011, struct.pack("<QQ", 0, 0))]
                + [
                    _message(0x000C, _attr_message(k, v))
                    for k, v in sorted(g.attrs.items())
                ]
            )
            g.addr = take(len(ohdr))
            layout[id(g)] = {
                "ohdr_size": len(ohdr),
                "heap": take(32),
                "heap_data": take(m["heap_data_size"]),
                "btree": take(btree_size),
                "snod": take(snod_size),
            }
        def dataset_messages(d: _Dataset, data_or_btree_addr: int):
            msgs = [
                _message(0x0001, _dataspace(d.shape)),
                _message(0x0003, _datatype(d.data.dtype)),
            ]
            if d.chunks is not None:
                if d.compression == "gzip" or d.shuffle:
                    msgs.append(
                        _message(
                            0x000B,
                            _filter_pipeline(
                                d.shuffle,
                                6 if d.compression == "gzip" else None,
                            ),
                        )
                    )
                msgs.append(
                    _message(
                        0x0008,
                        _layout_chunked(
                            data_or_btree_addr,
                            d.chunks,
                            d.data.dtype.itemsize,
                        ),
                    )
                )
            else:
                msgs.append(
                    _message(
                        0x0008,
                        struct.pack(
                            "<BBQQ", 3, 1, data_or_btree_addr, d.nbytes
                        ),
                    )
                )
            return msgs + [
                _message(0x000C, _attr_message(k, v))
                for k, v in sorted(d.attrs.items())
            ]

        for d in datasets:
            ohdr = _object_header(dataset_messages(d, 0))
            d.addr = take(len(ohdr))
            if d.chunks is None:
                layout[id(d)] = {
                    "ohdr_size": len(ohdr),
                    "data": take(max(d.nbytes, 8)),
                }
            else:
                if isinstance(d, _ChunkedPlaceholder):
                    blobs = None
                    grid = d.grid_offsets()
                    sizes = d.chunk_sizes
                else:
                    blobs = d.chunk_blobs()
                    grid = [off for off, _ in blobs]
                    sizes = [len(b) for _, b in blobs]
                ndp1 = len(d.shape) + 1
                keysize = 8 + 8 * ndp1
                node_size = (
                    24
                    + (_CHUNK_NODE_CAP + 1) * keysize
                    + _CHUNK_NODE_CAP * 8
                )
                node_addrs = [
                    [take(node_size) for _ in range(c)]
                    for c in _btree_level_counts(len(sizes))
                ]
                layout[id(d)] = {
                    "ohdr_size": len(ohdr),
                    "blobs": blobs,
                    "grid": grid,
                    "sizes": sizes,
                    "node_addrs": node_addrs,
                    "node_size": node_size,
                    "chunk_addrs": [take(sz) for sz in sizes],
                }
        eof = pos

        buf = bytearray(eof)

        def put(addr: int, b: bytes):
            buf[addr:addr + len(b)] = b

        # superblock v0
        sb = b"\x89HDF\r\n\x1a\n"
        sb += struct.pack("<4B", 0, 0, 0, 0)          # versions
        sb += struct.pack("<BBBB", 0, 8, 8, 0)        # shared-ver, sizes
        sb += struct.pack("<HH", _K, _K)              # leaf K, internal K
        sb += struct.pack("<I", 0)                    # consistency flags
        sb += struct.pack("<QQQQ", 0, UNDEF, eof, UNDEF)
        # root symbol-table entry
        sb += struct.pack("<QQII16x", 0, self.root.addr, 0, 0)
        assert len(sb) == 96
        put(0, sb)

        for g in groups:
            m, lay = meta[id(g)], layout[id(g)]
            ohdr = _object_header(
                [
                    _message(
                        0x0011,
                        struct.pack("<QQ", lay["btree"], lay["heap"]),
                    )
                ]
                + [
                    _message(0x000C, _attr_message(k, v))
                    for k, v in sorted(g.attrs.items())
                ]
            )
            assert len(ohdr) == lay["ohdr_size"]
            put(g.addr, ohdr)
            # local heap header + data
            put(
                lay["heap"],
                b"HEAP" + struct.pack(
                    "<B3xQQQ", 0, m["heap_data_size"], 1, lay["heap_data"]
                ),
            )
            hd = bytearray(m["heap_data_size"])
            for n in m["names"]:
                off = m["name_off"][n]
                hd[off:off + len(n) + 1] = n.encode() + b"\x00"
            put(lay["heap_data"], bytes(hd))
            # v1 B-tree: one leaf pointing at the single SNOD
            bt = b"TREE" + struct.pack("<BBH", 0, 0, 1)
            bt += struct.pack("<QQ", UNDEF, UNDEF)
            last_key = (
                m["name_off"][m["names"][-1]] if m["names"] else 0
            )
            bt += struct.pack("<QQQ", 0, lay["snod"], last_key)
            bt += b"\x00" * (btree_size - len(bt))
            put(lay["btree"], bt)
            # SNOD with one entry per child, name-sorted
            sn = b"SNOD" + struct.pack("<BBH", 1, 0, len(m["names"]))
            for n in m["names"]:
                sn += struct.pack(
                    "<QQII16x", m["name_off"][n], g.children[n].addr, 0, 0
                )
            sn += b"\x00" * (snod_size - len(sn))
            put(lay["snod"], sn)

        self.data_offsets: dict[str, dict] = {}
        for d in datasets:
            lay = layout[id(d)]
            if d.chunks is None:
                root = lay["data"]
            else:
                root = lay["node_addrs"][-1][0]
            ohdr = _object_header(dataset_messages(d, root))
            assert len(ohdr) == lay["ohdr_size"]
            put(d.addr, ohdr)
            if d.chunks is None:
                if not isinstance(d, _Placeholder):
                    put(lay["data"], d.data.tobytes())
                self.data_offsets[full_path[id(d)]] = {
                    "offset": lay["data"],
                    "dtype": d.data.dtype.str,
                    "shape": d.shape,
                }
                continue

            # chunked: write chunk blobs + the v1 type-1 B-tree
            # (placeholders have no blobs — external writers fill the
            # reserved chunk regions at the published addresses)
            ndp1 = len(d.shape) + 1
            grid_end = tuple(
                -(-s // c) * c for s, c in zip(d.shape, d.chunks)
            )
            end_key = _chunk_key(0, 0, grid_end, ndp1)
            chunk_keys = [
                _chunk_key(sz, 0, off, ndp1)
                for off, sz in zip(lay["grid"], lay["sizes"])
            ]
            if lay["blobs"] is not None:
                for addr, (_, b) in zip(lay["chunk_addrs"], lay["blobs"]):
                    put(addr, b)

            children = lay["chunk_addrs"]
            keys = chunk_keys
            for level, addrs in enumerate(lay["node_addrs"]):
                next_keys = []
                for i, naddr in enumerate(addrs):
                    b, e = i * _CHUNK_NODE_CAP, min(
                        (i + 1) * _CHUNK_NODE_CAP, len(children)
                    )
                    left = addrs[i - 1] if i > 0 else UNDEF
                    right = addrs[i + 1] if i + 1 < len(addrs) else UNDEF
                    node = b"TREE" + struct.pack(
                        "<BBH", 1, level, e - b
                    ) + struct.pack("<QQ", left, right)
                    for j in range(b, e):
                        node += keys[j] + struct.pack("<Q", children[j])
                    node += keys[e] if e < len(children) else end_key
                    node += b"\x00" * (lay["node_size"] - len(node))
                    assert len(node) == lay["node_size"]
                    put(naddr, node)
                    next_keys.append(keys[b])
                children, keys = addrs, next_keys
            entry = {
                "offset": None,
                "dtype": d.data.dtype.str,
                "shape": d.shape,
                "chunked": True,
            }
            if isinstance(d, _ChunkedPlaceholder):
                entry["chunk_addrs"] = list(lay["chunk_addrs"])
                entry["chunk_sizes"] = list(lay["sizes"])
            self.data_offsets[full_path[id(d)]] = entry

        with open(path, "wb") as f:
            f.write(bytes(buf))


# --------------------------------------------------------------------------
# Independent reader for the same format slice (round-trip verification).
# --------------------------------------------------------------------------


class MiniH5Reader:
    """Parse the classic-format slice written above — independently,
    from the public spec, so the round-trip test is two implementations
    agreeing rather than one function inverting itself."""

    def __init__(self, path: str):
        import mmap

        # mmap, not read(): metadata walks touch a few KB even on a
        # multi-GB file, and the row-slice readers
        # (sources.sonata_h5.read_sonata_edges / read_sonata_index) open
        # the file per executor task purely for structure
        self._f = open(path, "rb")
        try:
            self.buf = mmap.mmap(self._f.fileno(), 0, access=mmap.ACCESS_READ)
        except (ValueError, OSError):  # zero-length or mmap-less FS
            self.buf = self._f.read()
        if self.buf[:8] != b"\x89HDF\r\n\x1a\n":
            raise ValueError("not an HDF5 file")
        root_ste = 56
        (self.root_addr,) = struct.unpack_from("<Q", self.buf, root_ste + 8)

    # -- low-level parsers -------------------------------------------------
    def _messages(self, addr: int):
        ver, _, nmsg, _refs, size = struct.unpack_from(
            "<BBHII", self.buf, addr
        )
        assert ver == 1, "only v1 object headers supported"
        pos, end = addr + 16, addr + 16 + size
        out = []
        for _ in range(nmsg):
            mtype, msize, _flags = struct.unpack_from("<HHB", self.buf, pos)
            out.append((mtype, self.buf[pos + 8:pos + 8 + msize]))
            pos += 8 + msize
            assert pos <= end
        return out

    def _parse_dtype(self, b: bytes):
        cls_ver, b0 = b[0], b[1]
        cls, size = cls_ver & 0x0F, struct.unpack_from("<I", b, 4)[0]
        if cls == 0:
            return np.dtype(f"<i{size}")
        if cls == 1:
            return np.dtype(f"<f{size}")
        if cls == 3:
            return np.dtype(f"S{size}")
        raise ValueError(f"datatype class {cls}")

    def _parse_shape(self, b: bytes):
        rank = b[1]
        return tuple(
            struct.unpack_from("<Q", b, 8 + 8 * i)[0] for i in range(rank)
        )

    def _parse_attr(self, b: bytes):
        _ver, _res, nsz, dtsz, dssz = struct.unpack_from("<BBHHH", b, 0)
        pos = 8
        name = b[pos:pos + nsz].split(b"\x00")[0].decode()
        pos += _pad8(nsz)
        dt = self._parse_dtype(b[pos:pos + dtsz])
        pos += _pad8(dtsz) + _pad8(dssz)  # scalar dataspace only
        raw = b[pos:]
        if dt.kind == "S":
            return name, raw[: dt.itemsize].split(b"\x00")[0].decode()
        return name, np.frombuffer(raw[: dt.itemsize], dtype=dt)[0].item()

    def _links(self, group_addr: int) -> dict[str, int]:
        msgs = dict()
        st = [m for t, m in self._messages(group_addr) if t == 0x0011]
        if not st:
            return {}
        btree, heap = struct.unpack_from("<QQ", st[0], 0)
        assert self.buf[heap:heap + 4] == b"HEAP"
        (heap_data,) = struct.unpack_from("<Q", self.buf, heap + 24)
        assert self.buf[btree:btree + 4] == b"TREE"
        (nchild,) = struct.unpack_from("<H", self.buf, btree + 6)
        out = {}
        for c in range(nchild):
            (snod,) = struct.unpack_from(
                "<Q", self.buf, btree + 24 + 8 + c * 16
            )
            assert self.buf[snod:snod + 4] == b"SNOD"
            (n,) = struct.unpack_from("<H", self.buf, snod + 6)
            for i in range(n):
                off, ohdr = struct.unpack_from(
                    "<QQ", self.buf, snod + 8 + i * 40
                )
                # mmap has find() but not index(); -1 would crash the
                # slice below anyway, so guard explicitly
                name_end = self.buf.find(b"\x00", heap_data + off)
                if name_end < 0:
                    raise ValueError("unterminated link name in local heap")
                out[self.buf[heap_data + off:name_end].decode()] = ohdr
        return out

    def _resolve(self, path: str) -> int:
        addr = self.root_addr
        for part in [p for p in path.strip("/").split("/") if p]:
            links = self._links(addr)
            if part not in links:
                raise KeyError(path)
            addr = links[part]
        return addr

    # -- public API --------------------------------------------------------
    def list_links(self, path: str = "/") -> list[str]:
        return sorted(self._links(self._resolve(path)))

    def _parse_filters(self, m: bytes) -> list[tuple[int, int]]:
        """Filter pipeline message -> [(filter id, flags)] in apply
        order.  Handles v1 (classic, padded names) and v2."""
        version, nf = m[0], m[1]
        if version == 1:
            pos = 8
        elif version == 2:
            pos = 2
        else:
            raise NotImplementedError(f"filter pipeline v{version}")
        out = []
        for _ in range(nf):
            fid, namelen, flags, ncd = struct.unpack_from("<HHHH", m, pos)
            pos += 8
            if version == 1 and namelen:
                namelen = (namelen + 7) & ~7
            pos += namelen + 4 * ncd
            if version == 1 and ncd % 2:
                pos += 4
            out.append((fid, flags))
        return out

    def _chunk_entries(self, addr: int, ndp1: int):
        """Walk a v1 type-1 (raw data chunk) B-tree; yield
        (grid offsets, chunk address, stored bytes, filter mask)."""
        if self.buf[addr:addr + 4] != b"TREE":
            raise ValueError(f"expected TREE node at {addr}")
        ntype, level, entries = struct.unpack_from("<BBH", self.buf, addr + 4)
        if ntype != 1:
            raise ValueError(f"B-tree node type {ntype}, expected 1")
        keysize = 8 + 8 * ndp1
        pos = addr + 24  # past signature + header + sibling pointers
        for _ in range(entries):
            size, mask = struct.unpack_from("<II", self.buf, pos)
            offs = struct.unpack_from(f"<{ndp1}Q", self.buf, pos + 8)
            child = struct.unpack_from("<Q", self.buf, pos + keysize)[0]
            pos += keysize + 8
            if level > 0:
                yield from self._chunk_entries(child, ndp1)
            else:
                yield offs[:-1], child, size, mask

    def dataset_layout(self, path: str) -> dict:
        """Structural description of a dataset for external readers —
        everything needed to fetch+decode its bytes WITHOUT this
        reader instance (the row-slice .h5 source ships this to
        executors): dtype/shape, and either the contiguous extent or
        the full chunk map + filter pipeline."""
        dt = shape = layout = None
        filters: list[tuple[int, int]] = []
        for t, m in self._messages(self._resolve(path)):
            if t == 0x0001:
                shape = self._parse_shape(m)
            elif t == 0x0003:
                dt = self._parse_dtype(m)
            elif t == 0x000B:
                filters = self._parse_filters(m)
            elif t == 0x0008:
                version, lclass = m[0], m[1]
                if version == 3 and lclass == 1:
                    layout = ("contig",) + struct.unpack_from("<QQ", m, 2)
                elif version == 3 and lclass == 2:
                    ndp1 = m[2]
                    (btree_addr,) = struct.unpack_from("<Q", m, 3)
                    dims = struct.unpack_from(f"<{ndp1}I", m, 11)
                    layout = ("chunked", btree_addr, dims[:-1])
                else:
                    # compact layouts and v1/v2 messages stay h5py-only;
                    # name the dataset and the remedy instead of failing
                    # deep in the parser
                    kind = {0: "compact", 1: "contiguous", 2: "chunked"}.get(
                        lclass, f"class {lclass}"
                    )
                    raise NotImplementedError(
                        f"dataset {path!r} uses a {kind} data layout "
                        f"(message version {version}); MiniH5Reader parses "
                        "v3 contiguous and v3 chunked layouts — install "
                        "h5py for anything else"
                    )
        assert dt is not None and shape is not None and layout is not None
        out = {"dtype": dt.str, "shape": shape, "filters": filters}
        if layout[0] == "contig":
            out.update(layout="contig", addr=layout[1], nbytes=layout[2])
        else:
            _, btree_addr, chunk_shape = layout
            out.update(
                layout="chunked",
                chunk_shape=chunk_shape,
                chunks=list(
                    self._chunk_entries(btree_addr, len(chunk_shape) + 1)
                ),
            )
        return out

    def read_dataset(self, path: str) -> np.ndarray:
        lay = self.dataset_layout(path)
        dt, shape = np.dtype(lay["dtype"]), lay["shape"]
        if lay["layout"] == "contig":
            if lay["addr"] == UNDEF or lay["nbytes"] == 0:
                # libhdf5 defers allocation: an empty or never-written
                # contiguous dataset stores the undefined address and
                # reads back as its fill value (zeros), not an error
                return np.zeros(shape, dtype=dt)
            if lay["addr"] + lay["nbytes"] > len(self.buf):
                raise ValueError(
                    f"{path!r}: data extent ends at byte "
                    f"{lay['addr'] + lay['nbytes']} but the file is only "
                    f"{len(self.buf)} bytes — truncated file"
                )
            arr = np.frombuffer(
                self.buf[lay["addr"]:lay["addr"] + lay["nbytes"]], dtype=dt
            )
            return arr.reshape(shape)

        chunk_shape = lay["chunk_shape"]
        out = np.zeros(shape, dtype=dt)
        for offs, caddr, csize, mask in lay["chunks"]:
            if caddr + csize > len(self.buf):
                raise ValueError(
                    f"{path!r}: chunk at byte {caddr} ends past the "
                    f"{len(self.buf)}-byte file — truncated file"
                )
            blob = bytes(self.buf[caddr:caddr + csize])
            chunk = decode_chunk(
                blob, lay["filters"], mask, dt, chunk_shape, name=path
            )
            sel = tuple(
                slice(o, min(o + c, s))
                for o, c, s in zip(offs, chunk_shape, shape)
            )
            src = tuple(slice(0, sl.stop - sl.start) for sl in sel)
            out[sel] = chunk[src]
        return out

    def read_attrs(self, path: str) -> dict:
        return dict(
            self._parse_attr(m)
            for t, m in self._messages(self._resolve(path))
            if t == 0x000C
        )

"""Pure-Python/NumPy codec for the SCBF v1 columnar file format.

Implements the binary layout of the reference spec (/root/reference/SPEC.md:18-98):
header (magic ``SCBFv1\\0\\0``, schema JSON, counts, meta offset), per-column
metadata table, and per-column zlib-compressed data blocks. Three physical
types: int32 (code 1), float64 (code 2), utf8 (code 3, prefix-sum u32 offsets
+ concatenated blob — layout-identical to Arrow's variable-length binary).

Write entry points:

- ``write_arrow_table(path, table)``: a ``pyarrow.Table`` (the Spark writer,
  and ``cli csv_to_custom``, which alone passes ``workers`` to compress the
  blocks on threads);
- ``write_table_path(path, names, type_codes, columns)``: Python value lists,
  the reference's list API, kept as the reference and for list callers; the
  lists become Arrow arrays so both go through the one Arrow → raw-block
  encoder;
- ``write_table_raw(out, ...)``: the layout emitter behind both, for
  already-packed raw blocks and any binary sink.

Reads have no decoder here: ``read_meta`` returns the header and metadata
table in the v2 footer shape, and ``codec_v2._read_group`` decodes the blocks
of both versions (``SCBFReader`` is the file handle over both).

Differences from the reference implementation (all deliberate, behavior-compatible):

- **Single forward pass**: block offsets are computed up-front from known
  compressed sizes, instead of the reference's write-placeholder-then-seek-back
  patching (reference writer.py:158,221-223). This makes the writer usable on
  non-seekable sinks (object stores, pipes).
- **Correct ``str_uncomp``**: the reference clobbers the utf8 ``str_uncomp``
  metadata field with an offset during patching (reference writer.py:208-209);
  we store the true uncompressed blob length, and ``read_meta`` treats the
  ``*_uncomp`` fields as advisory (so reference-written files still decode).
- **Vectorized**: numeric packing/unpacking uses NumPy ``tobytes``/
  ``frombuffer`` instead of per-value ``struct`` loops (reference
  reader.py:80,88 / writer.py:84,98).

This module has NO Spark dependency — it is shared by the Spark DataSource V2
(`custom_columnar_format_spark.sources`) and the reference-parity CLI.
"""

from __future__ import annotations

import contextlib
import json
import struct
import zlib
from dataclasses import dataclass, field
from typing import Any, BinaryIO, List, Optional, Sequence, Tuple

import numpy as np

MAGIC = b"SCBFv1\x00\x00"

TYPE_INT32 = 1
TYPE_FLOAT64 = 2
TYPE_UTF8 = 3

TYPE_NAMES = {TYPE_INT32: "int32", TYPE_FLOAT64: "float64", TYPE_UTF8: "utf8"}
TYPE_CODES = {v: k for k, v in TYPE_NAMES.items()}

DEFAULT_ZLIB_LEVEL = 6

# u32 prefix-sum offsets cap a single utf8 blob at 4 GiB (SPEC.md:80).
MAX_UTF8_BLOB = (1 << 32) - 1
INT32_MIN = -(1 << 31)
INT32_MAX = (1 << 31) - 1


class ScbfError(ValueError):
    """Malformed SCBF data or unsupported value for the format."""


@dataclass
class ColumnMeta:
    """Decoded per-column metadata record (SPEC.md:53-80)."""

    name: str
    type_code: int
    count: int
    # numeric: (uncomp, comp, offset); utf8 uses both pairs.
    uncomp_size: int = 0
    comp_size: int = 0
    block_offset: int = 0
    str_uncomp_size: int = 0
    str_comp_size: int = 0
    str_offset: int = 0

    @property
    def type_name(self) -> str:
        return TYPE_NAMES[self.type_code]


@dataclass
class ScbfFileInfo:
    """Parsed header + metadata table of one SCBF file."""

    schema: dict
    num_columns: int
    total_rows: int
    meta_table_offset: int
    columns: List[ColumnMeta] = field(default_factory=list)


# ---------------------------------------------------------------------------
# Encoding
# ---------------------------------------------------------------------------


def _meta_record_size(name_bytes: bytes, type_code: int) -> int:
    base = 2 + len(name_bytes) + 1 + 8  # name_len u16 + name + type u8 + count u64
    return base + (6 * 8 if type_code == TYPE_UTF8 else 3 * 8)


def _int32_overflow() -> ScbfError:
    return ScbfError(
        f"int32 overflow: values outside [{INT32_MIN}, {INT32_MAX}] "
        "(SCBF v1 has no wider integer type; cast to float64 or use parquet)"
    )


def _check_int32_range(arr: np.ndarray) -> None:
    if arr.size and (arr.min() < INT32_MIN or arr.max() > INT32_MAX):
        raise _int32_overflow()


def _check_utf8_blob(blob_len: int) -> None:
    if blob_len > MAX_UTF8_BLOB:
        raise ScbfError(
            f"utf8 column blob is {blob_len} bytes; u32 offsets cap it at 4 GiB "
            "— split the data into more files/partitions"
        )


def _compress_blocks(raw_blocks, level: int, workers: Optional[int]):
    """zlib-compress every raw block, in order. With ``workers`` > 1 the
    blocks go largest-first to a thread pool of that size: ``zlib.compress``
    releases the interpreter lock while it deflates, so the threads overlap,
    and each block's bytes do not depend on which thread compressed it."""
    flat = [b for blk in raw_blocks for b in blk]
    if not workers or workers < 2 or len(flat) < 2:
        return [tuple(zlib.compress(b, level) for b in blk) for blk in raw_blocks]
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(min(workers, len(flat))) as pool:
        done = {
            i: pool.submit(zlib.compress, flat[i], level)
            for i in sorted(range(len(flat)), key=lambda i: -len(flat[i]))
        }
    out = iter([done[i].result() for i in range(len(flat))])
    return [tuple(next(out) for _ in blk) for blk in raw_blocks]


def write_table_raw(
    out: BinaryIO,
    names: Sequence[str],
    type_codes: Sequence[int],
    raw_blocks: Sequence[Tuple[bytes, ...]],
    n_rows: int,
    level: int = DEFAULT_ZLIB_LEVEL,
    workers: Optional[int] = None,
) -> None:
    """Write pre-packed raw blocks — (raw,) per numeric column, (offsets raw,
    blob) per utf8 column — as one SCBF v1 file. ``workers`` > 1 compresses
    the blocks on that many threads (same bytes)."""
    schema_json = json.dumps(
        {"columns": [{"name": n, "type": TYPE_NAMES[t]} for n, t in zip(names, type_codes)]}
    ).encode("utf-8")
    name_bytes = [n.encode("utf-8") for n in names]

    # 1) Compress every raw block.
    blocks = _compress_blocks(raw_blocks, level, workers)
    uncomp_sizes = [tuple(len(b) for b in blk) for blk in raw_blocks]

    # 2) Compute layout: header | meta table | data blocks.
    header_len = len(MAGIC) + 4 + len(schema_json) + 4 + 8 + 8
    meta_table_offset = header_len
    meta_len = sum(_meta_record_size(nb, tc) for nb, tc in zip(name_bytes, type_codes))
    pos = meta_table_offset + meta_len
    block_offsets: List[Tuple[int, ...]] = []
    for blk in blocks:
        offs = []
        for b in blk:
            offs.append(pos)
            pos += len(b)
        block_offsets.append(tuple(offs))

    # 3) Emit.
    out.write(MAGIC)
    out.write(struct.pack("<I", len(schema_json)))
    out.write(schema_json)
    out.write(struct.pack("<IQQ", len(names), n_rows, meta_table_offset))

    for nb, tc, blk, usz, offs in zip(name_bytes, type_codes, blocks, uncomp_sizes, block_offsets):
        out.write(struct.pack("<H", len(nb)))
        out.write(nb)
        out.write(struct.pack("<BQ", tc, n_rows))
        if tc == TYPE_UTF8:
            out.write(
                struct.pack(
                    "<QQQQQQ",
                    usz[0], len(blk[0]), offs[0],  # offsets block
                    usz[1], len(blk[1]), offs[1],  # string blob (true uncomp length)
                )
            )
        else:
            out.write(struct.pack("<QQQ", usz[0], len(blk[0]), offs[0]))

    for blk in blocks:
        for b in blk:
            out.write(b)


# ---------------------------------------------------------------------------
# Decoding
# ---------------------------------------------------------------------------


def _opened(src):
    """Context manager over a readable binary file: ``src`` is a path (opened
    here, closed on exit) or an already-open file (left open for its owner,
    so one file handle serves a footer parse and every block read)."""
    if hasattr(src, "read"):
        return contextlib.nullcontext(src)
    return open(src, "rb")


def read_file_info(f: BinaryIO) -> ScbfFileInfo:
    """Parse header + full metadata table (SPEC.md:28-80)."""
    f.seek(0)
    if f.read(8) != MAGIC:
        raise ScbfError("bad magic: not an SCBF v1 file")
    (schema_len,) = struct.unpack("<I", f.read(4))
    schema = json.loads(f.read(schema_len).decode("utf-8"))
    num_columns, total_rows, meta_table_offset = struct.unpack("<IQQ", f.read(4 + 8 + 8))

    f.seek(meta_table_offset)
    cols: List[ColumnMeta] = []
    for _ in range(num_columns):
        (name_len,) = struct.unpack("<H", f.read(2))
        name = f.read(name_len).decode("utf-8")
        type_code, count = struct.unpack("<BQ", f.read(1 + 8))
        if type_code in (TYPE_INT32, TYPE_FLOAT64):
            u, c, o = struct.unpack("<QQQ", f.read(24))
            cols.append(ColumnMeta(name, type_code, count, u, c, o))
        elif type_code == TYPE_UTF8:
            ou, oc, oo, su, sc, so = struct.unpack("<QQQQQQ", f.read(48))
            cols.append(ColumnMeta(name, type_code, count, ou, oc, oo, su, sc, so))
        else:
            raise ScbfError(f"unknown type code {type_code} for column {name!r}")
    return ScbfFileInfo(schema, num_columns, total_rows, meta_table_offset, cols)


def read_meta(path) -> dict:
    """The v1 header in the v2 footer shape (``codec_v2.read_meta``), so one
    block decoder (``codec_v2._read_group``) reads both versions. Each column
    is one zlib block set — ``data``, or ``offsets`` + ``blob`` for utf8 —
    with no CRC, no stats and no nulls. ``uncomp`` is None: ``*_uncomp``
    sizes are advisory, because reference-written files carry a clobbered
    ``str_uncomp`` (reference writer.py:208-209), so block sizes come from
    the decompressed payloads. ``path`` may be an open binary file."""
    with _opened(path) as f:
        info = read_file_info(f)

    def ref(offset: int, comp: int) -> dict:
        return {"offset": offset, "comp": comp, "uncomp": None, "crc32": None}

    columns = []
    for m in info.columns:
        if m.type_code == TYPE_UTF8:
            blocks = {"offsets": ref(m.block_offset, m.comp_size),
                      "blob": ref(m.str_offset, m.str_comp_size)}
        else:
            blocks = {"data": ref(m.block_offset, m.comp_size)}
        columns.append({"name": m.name, "type": m.type_name, "nullable": False,
                        "null_count": 0, "dict": False, "blocks": blocks, "stats": None})
    return {"version": 1, "rows": info.total_rows, "codec": "zlib", "columns": columns}


def read_arrow_table(path, columns: Optional[Sequence[str]] = None):
    """Read an SCBF v1 file into a ``pyarrow.Table``, pruning to ``columns``
    (all, by position, by default) through the v2 block decoder. ``path``
    may be an open binary file."""
    from .codec_v2 import read_arrow_table as read_blocks

    with _opened(path) as f:
        return read_blocks(f, columns, meta=read_meta(f))


def _utf8_raw_from_arrow(col) -> Tuple[bytes, bytes]:
    """(offsets raw, blob raw) straight from Arrow string buffers — SCBF's
    utf8 layout IS Arrow's variable-length layout, so no per-value Python
    string materialization is needed; just rebase the offsets to 0 and
    narrow them to u32."""
    import pyarrow as pa

    combined = col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col
    if isinstance(combined, pa.ChunkedArray):
        arr = combined.chunk(0) if combined.num_chunks else pa.array([], type=combined.type)
    else:
        arr = combined
    if len(arr) == 0:
        return np.zeros(1, dtype="<u4").tobytes(), b""
    off_dtype = np.int64 if pa.types.is_large_string(arr.type) else np.int32
    bufs = arr.buffers()
    offs = np.frombuffer(bufs[1], dtype=off_dtype)[arr.offset : arr.offset + len(arr) + 1]
    lo, hi = int(offs[0]), int(offs[-1])
    _check_utf8_blob(hi - lo)
    rebased = (offs.astype(np.int64) - lo).astype("<u4")
    # zero-copy slice of the Arrow data buffer; zlib consumes any buffer object
    blob = memoryview(bufs[2])[lo:hi]
    return rebased.tobytes(), blob


def write_arrow_table(
    path: str, table, level: int = DEFAULT_ZLIB_LEVEL, workers: Optional[int] = None
) -> None:
    """Write a ``pyarrow.Table`` as one SCBF v1 file; ``workers`` > 1
    compresses its blocks concurrently (single-process callers only: the
    Spark writer leaves it unset, as its tasks already run in parallel).

    Maps Arrow types onto the three SCBF physical types; anything else (or any
    null) raises ``ScbfError`` — SCBF v1 has no null encoding (SPEC.md:118-123
    lists null bitmaps as an unimplemented extension).

    Raw blocks are built from Arrow buffers directly (numeric: vectorized
    cast; utf8: offset rebase + blob slice — no ``to_pylist`` round-trip)."""
    _write_arrow(path, table, level, workers)


def write_table_path(
    path: str,
    names: Sequence[str],
    type_codes: Sequence[int],
    columns: Sequence[Sequence[Any]],
    level: int = DEFAULT_ZLIB_LEVEL,
) -> None:
    """Write Python value lists as one SCBF v1 file, column ``i`` named
    ``names[i]`` with type code ``type_codes[i]`` — the reference's list API
    (reference writer.py). The lists become Arrow arrays and go through
    the same encoder as ``write_arrow_table``; int32 columns are built as
    int64 so an out-of-range value raises ``ScbfError`` from the int32
    range check."""
    import pyarrow as pa

    if not (len(names) == len(type_codes) == len(columns)):
        raise ScbfError("names/types/columns length mismatch")
    n_rows = len(columns[0]) if columns else 0
    if any(len(c) != n_rows for c in columns):
        raise ScbfError("ragged columns: all columns must have the same row count")
    arrow_types = {TYPE_INT32: pa.int64(), TYPE_FLOAT64: pa.float64(), TYPE_UTF8: pa.large_string()}
    arrays = []
    for tc, col in zip(type_codes, columns):
        if tc not in arrow_types:
            raise ScbfError(f"unknown type code {tc}")
        arrays.append(pa.array(col, type=arrow_types[tc]))
    _write_arrow(path, pa.Table.from_arrays(arrays, names=list(names)), level)


def _write_arrow(path: str, table, level: int, workers: Optional[int] = None) -> None:
    """The one v1 encoder behind both write entry points. Columns are walked
    by position, so duplicate names (which the reader resolves last-wins)
    still write."""
    import pyarrow as pa

    codes: List[int] = []
    raw_blocks: List[Tuple[bytes, ...]] = []
    for i, fld in enumerate(table.schema):
        col = table.column(i)
        if col.null_count:
            raise ScbfError(
                f"column {fld.name!r} contains nulls; SCBF v1 cannot represent them "
                "(drop/fill nulls or write parquet)"
            )
        t = fld.type
        if pa.types.is_integer(t):
            codes.append(TYPE_INT32)
            arr = col.to_numpy(zero_copy_only=False)
            _check_int32_range(arr)
            raw_blocks.append((arr.astype("<i4").tobytes(),))
        elif pa.types.is_floating(t):
            codes.append(TYPE_FLOAT64)
            raw_blocks.append((col.to_numpy(zero_copy_only=False).astype("<f8").tobytes(),))
        elif pa.types.is_string(t) or pa.types.is_large_string(t):
            codes.append(TYPE_UTF8)
            raw_blocks.append(_utf8_raw_from_arrow(col))
        else:
            raise ScbfError(
                f"column {fld.name!r} has type {t}, not representable in SCBF v1 "
                "(int32/float64/utf8 only)"
            )
    with open(path, "wb") as f:
        write_table_raw(f, table.column_names, codes, raw_blocks, table.num_rows, level, workers)

"""SCBF **v2** codec — implements the reference spec's own declared future
extensions (reference SPEC.md:118-123 lists them as unimplemented: null
bitmaps, dictionary encoding, min/max statistics, checksums) as a clean
second format version, plus the type-system fixes v1 forces workarounds for.

v2 is OUR format (the reference defines only v1), so the layout is designed
for object stores and distributed writers from the start:

    magic "SCBFv2\\0\\0"
    <data blocks ...>                (per column / per role; file-level codec:
                                      zlib default, bz2 | lzma | none)
    <metadata JSON, zlib>            (footer, like Parquet's; names the codec)
    u64 meta_comp_len | magic tail

- **Footer metadata**: written last, so the writer is one forward pass with
  no seeks at all (v1 needs sizes precomputed; v2 streams). Readers seek to
  EOF-16, which object stores serve as a ranged GET.
- **Null support**: optional per-column validity bitmap, bit-packed LSB-first
  — exactly Arrow's validity layout, so reads hand the decompressed buffer
  to Arrow without per-value work.
- **Types**: int32, float64, utf8 (v1 set) + int64 and bool (v1's biggest
  wart: Spark bigint had to be range-checked down to int32).
- **Dictionary encoding**: utf8 columns with repetition ratio ≤ 0.5 store a
  sorted unique dictionary + indices (auto; per-column flag in metadata).
- **Lightweight encodings** (footer feature ``"enc"``): before the block
  codec, every int data block and every dictionary-index block of a block
  set with at least ``ENC_MIN_ROWS`` rows is transformed by rule, per block:
  a non-decreasing block stores its deltas, any other its offsets from the
  block minimum (frame of reference), each narrowed to the smallest unsigned
  width (u1/u2/u4/u8) and byte-shuffled (Blosc's transpose) when wider than
  one byte; a block that does not narrow is only shuffled. A float64 block
  whose values are all short decimals (feature ``"dec"``: ``k / 10**exp``
  bit for bit, ``exp ≤ DEC_MAX_EXP``, ``|k| < 2**53``; the pseudodecimals
  of BtrBlocks and ALP) stores the integers ``k`` through that int rule
  when it narrows them; any other float64 block is shuffled when a strided
  sample of ≤1024 values compresses smaller that way at zlib level 1, else
  stored plain. The transform sits in the block ref (``"enc": {"kind":
  "delta" | "for" | "shuffle", "width", "base"}``, or ``{"kind": "dec",
  "exp", "int": "delta" | "for", "width", "base"}``), ``uncomp`` is the
  size of the stored (encoded) bytes, and the block is
  filed under the role ``data_enc`` / ``indices_enc`` instead of ``data`` /
  ``indices``, so a reader that predates encodings fails on the missing
  role instead of returning the encoded bytes as values. Bool data, utf8
  offsets and blobs and validity bitmaps are always plain. Block sets below
  ``ENC_MIN_ROWS`` rows are written entirely in the plain format (no
  encodings, blake2b Bloom filters), so small files stay readable by every
  v2 reader.
- **Stats**: per-column min/max (nulls excluded) + null_count in metadata —
  used by the Spark DataSource for file-level skipping under pushed filters;
  low-NDV utf8 columns (≤ ``DVS_MAX`` distinct short values) additionally
  store their EXACT distinct-value set, turning ``=`` / ``IN`` pruning into
  a membership proof where Bloom filters are only probabilistic.
- **Checksums**: crc32 of every compressed block, verified on read.
- **Row groups** (optional, ``rows_per_group``): intra-file block sets with
  their own stats/blooms, so selective reads of compacted multi-hundred-MB
  files skip group I/O the way Parquet row-group pruning does; ungrouped
  files keep the original byte layout exactly.
- **Bloom filters** (``bloom_columns``), per block set, over the distinct
  non-null values, with double hashing ``h1 + i·h2``. Two hash ids: the
  original ``blake2b`` (blake2b-128 of the value's canonical bytes; footer
  key ``bloom``; every utf8 filter, and int filters of small block sets)
  and ``mix64`` (splitmix64 finalizer of the int64 value for ``h1``, of
  ``h1`` for ``h2``, computed in NumPy; footer key ``bloom_mix64``, feature
  ``"bloom_mix64"``; int filters otherwise). A reader that predates
  ``mix64`` never looks under ``bloom_mix64``, so it prunes nothing with a
  filter it would hash wrongly.
- **Features**: the footer's ``features`` list names every format addition
  a reader must implement to read the file correctly (``"enc"``, ``"dec"``,
  ``"bloom_mix64"``); ``read_meta`` raises ``ScbfV2Error`` on a name it does
  not know. Files that use none omit the key.

Metadata is a zlib'd JSON document rather than v1's hand-packed binary
records: footer size is irrelevant next to data blocks, and JSON keeps the
format evolvable (same reasoning as Parquet's thrift footer).
"""

from __future__ import annotations

import json
import struct
import zlib
from dataclasses import dataclass
from typing import Any, BinaryIO, Dict, List, Optional, Sequence

import numpy as np

from .codec import _opened

MAGIC_V2 = b"SCBFv2\x00\x00"

V2_TYPES = ("int32", "int64", "float64", "bool", "utf8")
#: the column types ``bloom_columns`` may name
BLOOM_TYPES = ("int32", "int64", "utf8")
_NP_DTYPES = {"int32": "<i4", "int64": "<i8", "float64": "<f8", "bool": "u1"}

DEFAULT_ZLIB_LEVEL = 6
DICT_RATIO = 0.5
MAX_STAT_STR = 64
#: distinct-value-set stats: a utf8 column whose block set has ≤ this many
#: distinct non-null values (each ≤ MAX_STAT_STR chars) stores the EXACT
#: value set in its metadata — `=` / `IN` pruning becomes a set-membership
#: proof where Bloom filters are only probabilistic and min/max only bounds
#: the range. 32 short strings cost ~the same footer bytes as one Bloom.
DVS_MAX = 32
#: block sets (row groups, or ungrouped files) with fewer rows are written in
#: the plain format: encodings would save a few hundred bytes at most, and
#: plain files stay readable by readers that predate ``FEATURES``
ENC_MIN_ROWS = 128
#: footer ``features`` this reader implements (see the module docstring)
FEATURES = frozenset({"enc", "dec", "bloom_mix64"})
_WIDTHS = (1, 2, 4, 8)
#: the largest decimal exponent ``_encode_floats`` tries (ALP's range for
#: doubles that came from short decimal text)
DEC_MAX_EXP = 8
#: scaled decimals must stay below this in magnitude, so every one of them
#: and every ``float + base`` sum the decoder forms is an exact double
_DEC_LIMIT = 2**53
#: footer key of a column's Bloom filter, by hash id
_BLOOM_KEYS = {"blake2b": "bloom", "mix64": "bloom_mix64"}


def _c_zlib(raw, level): return zlib.compress(raw, level)
def _c_bz2(raw, level):
    import bz2
    return bz2.compress(raw, max(1, min(9, level)))
def _c_lzma(raw, level):
    import lzma
    return lzma.compress(raw, preset=max(0, min(9, level)))
def _c_none(raw, level): return raw
def _d_bz2(comp):
    import bz2
    return bz2.decompress(comp)
def _d_lzma(comp):
    import lzma
    return lzma.decompress(comp)

#: pluggable block codecs (all stdlib — Parquet-style per-file codec choice):
#: zlib = balanced default, bz2/lzma = colder data & better ratios, none =
#: hot data where decompress CPU dominates (e.g. NVMe-local shuffle spill)
BLOCK_CODECS = {
    "zlib": (_c_zlib, zlib.decompress),
    "bz2": (_c_bz2, _d_bz2),
    "lzma": (_c_lzma, _d_lzma),
    "none": (_c_none, lambda b: b),
}


class ScbfV2Error(ValueError):
    pass


@dataclass
class BlockRef:
    offset: int
    comp: int
    uncomp: int
    crc32: int
    #: lightweight encoding of the stored bytes (``_decode``); None = plain
    enc: Optional[dict] = None

    def to_json(self) -> dict:
        d = {"offset": self.offset, "comp": self.comp, "uncomp": self.uncomp, "crc32": self.crc32}
        if self.enc is not None:
            d["enc"] = self.enc
        return d

    @staticmethod
    def from_json(d: dict) -> "BlockRef":
        return BlockRef(d["offset"], d["comp"], d["uncomp"], d["crc32"], d.get("enc"))


class _BlockWriter:
    """Appends compressed blocks, tracking offsets/crc — one forward pass —
    and the footer ``features`` the blocks and filters written so far use."""

    def __init__(self, f: BinaryIO, level: int, codec: str = "zlib"):
        if codec not in BLOCK_CODECS:
            raise ScbfV2Error(f"unknown codec {codec!r}; have {sorted(BLOCK_CODECS)}")
        self.f = f
        self.level = level
        self.codec = codec
        self.pos = f.write(MAGIC_V2)
        self.features: set = set()

    def put(self, raw: bytes, enc: Optional[dict] = None) -> BlockRef:
        comp = BLOCK_CODECS[self.codec][0](raw, self.level)
        ref = BlockRef(self.pos, len(comp), len(raw), zlib.crc32(comp) & 0xFFFFFFFF, enc)
        self.f.write(comp)
        self.pos += len(comp)
        if enc is not None:
            self.features.add("enc")
            if enc["kind"] == "dec":
                self.features.add("dec")
        return ref

    def put_role(self, blocks: Dict[str, BlockRef], role: str, raw: bytes, enc: Optional[dict]) -> None:
        """File an encoded block under ``<role>_enc``, a plain one under
        ``role`` (the module docstring's guard against older readers)."""
        blocks[role if enc is None else role + "_enc"] = self.put(raw, enc)


def _shuffle(a: np.ndarray) -> bytes:
    """Byte-shuffle (Blosc): byte 0 of every value, then byte 1, ... One
    strided copy per byte plane, about 5× faster than a transpose copy."""
    b = np.ascontiguousarray(a).view("u1")
    planes = np.empty((a.itemsize, a.size), dtype="u1")
    for j in range(a.itemsize):
        planes[j] = b[j :: a.itemsize]
    return planes.tobytes()


def _encode_ints(v: np.ndarray) -> tuple:
    """``(stored bytes, enc)`` for a non-empty int block: deltas if the block
    is non-decreasing, else frame of reference (``v - min``), at the
    narrowest unsigned width, shuffled when wider than a byte; shuffle alone
    when that width is the block's own. Differences are taken in the
    block's width and read unsigned, so they wrap exactly as the decoder's
    sums do (``INT_MIN`` and ``INT_MAX`` in one block need no wider type)."""
    unsigned = f"<u{v.itemsize}"
    if (v[1:] >= v[:-1]).all():
        kind, base = "delta", int(v[0])
        stored = np.diff(v, prepend=v[:1]).view(unsigned)
        span = int(stored.max())
    else:
        mn = v.min()
        kind, base = "for", int(mn)
        stored = (v - mn).view(unsigned)
        span = int(v.max()) - base
    width = next(w for w in _WIDTHS if span < 1 << (8 * w))
    if width == v.itemsize:
        kind, base, stored = "shuffle", 0, v
    else:
        stored = stored.astype(f"<u{width}")
    enc = {"kind": kind, "width": width, "base": base}
    return (_shuffle(stored) if width > 1 else stored.tobytes()), enc


def _unscale(x: np.ndarray, exp: int) -> np.ndarray:
    """Scaled decimals (integral float64, in place) back to their values:
    one correctly rounded division by the exact constant ``10**exp``. The
    encoder checks its blocks with this very function, and the decoder
    calls it, so what the encoder proved is what the decoder returns."""
    if exp:
        x /= float(10**exp)
    return x


def _encode_decimal(v: np.ndarray) -> Optional[tuple]:
    """``(stored bytes, enc)`` when every value of ``v`` is ``k / 10**e``
    for integers ``|k| < 2**53`` and ``e ≤ DEC_MAX_EXP``, bit for bit, and
    ``_encode_ints`` narrows the ``k``; else None. ``e`` is the smallest
    exponent that holds for a strided sample of at most 1024 values; the
    whole block is then checked through the decoder's own path (int64,
    back to float64, ``_unscale``), so ``-0.0``, NaN, ±inf and values that
    are not short decimals fail the check."""
    def scaled(x: np.ndarray, exp: int) -> Optional[np.ndarray]:
        with np.errstate(over="ignore", invalid="ignore"):
            k = np.rint(x * float(10**exp))
        if not (np.abs(k) < _DEC_LIMIT).all():  # also false for NaN and ±inf
            return None
        ints = k.astype("<i8")
        same = _unscale(ints.astype("<f8"), exp).view("<i8") == x.view("<i8")
        return ints if same.all() else None

    sample = np.ascontiguousarray(v[:: max(1, v.size // 1024)][:1024])
    exp = next((e for e in range(DEC_MAX_EXP + 1) if scaled(sample, e) is not None), None)
    ints = None if exp is None else scaled(v, exp)
    if ints is None:
        return None
    raw, enc = _encode_ints(ints)
    if enc["width"] == 8:
        return None
    return raw, {"kind": "dec", "exp": exp, "int": enc["kind"], "width": enc["width"], "base": enc["base"]}


def _encode_floats(v: np.ndarray) -> tuple:
    """``(stored bytes, enc)`` for a float64 block. A block of short
    decimals is stored as its scaled integers through the int rule
    (``_encode_decimal``, kind ``dec``). Any other block is shuffled when a
    strided sample of at most 1024 values compresses smaller shuffled than
    plain at zlib level 1 (a full-block trial at the file's level costs as
    much as the shuffle saves), else stored plain (``enc`` None)."""
    dec = _encode_decimal(v)
    if dec is not None:
        return dec
    sample = v[:: max(1, v.size // 1024)][:1024]
    if len(zlib.compress(_shuffle(sample), 1)) < len(zlib.compress(sample.tobytes(), 1)):
        return _shuffle(v), {"kind": "shuffle", "width": 8, "base": 0}
    return v.tobytes(), None


def _decode(raw: bytes, enc: dict, dtype: np.dtype, rows: int) -> np.ndarray:
    """Invert ``_encode_ints`` / ``_encode_floats`` straight into ``dtype``:
    one copy to unshuffle, then a widening cast and ``cumsum`` or ``+ base``
    in the target width (wrapping like the encoder's differences). A ``dec``
    block's integers are rebuilt the same way — frame of reference straight
    in float64, deltas summed in int64 and converted once — and divided by
    ``10**exp`` (``_unscale``)."""
    try:
        kind, width, base = enc["kind"], enc["width"], enc["base"]
        exp = None
        if kind == "dec":
            exp, kind = enc["exp"], enc["int"]
    except (TypeError, KeyError):
        raise ScbfV2Error(f"malformed block encoding {enc!r}") from None
    int_dtype = dtype
    if exp is not None:
        if (
            dtype != np.dtype("<f8")
            or not isinstance(exp, int)
            or not 0 <= exp <= DEC_MAX_EXP
            or kind not in ("delta", "for")
            or not isinstance(base, int)
            or not -_DEC_LIMIT <= base <= _DEC_LIMIT
        ):
            raise ScbfV2Error(f"decimal block encoding {enc!r} does not fit {rows} {dtype} values")
        int_dtype = np.dtype("<i8")
    if (
        kind not in ("delta", "for", "shuffle")
        or width not in _WIDTHS
        or not isinstance(base, int)
        or width > int_dtype.itemsize
        or (kind == "shuffle") != (width == int_dtype.itemsize)
        or (kind != "shuffle" and int_dtype.kind != "i")
        or len(raw) != rows * width
    ):
        raise ScbfV2Error(f"block encoding {enc!r} does not fit {rows} {dtype} values")
    u = np.frombuffer(raw, dtype="u1")
    if width > 1:
        planes = u.reshape(width, rows)
        u = np.empty(rows * width, dtype="u1")
        for j in range(width):
            u[j::width] = planes[j]
    u = u.view(f"<u{width}")
    if kind == "shuffle":
        return u.view(dtype)
    if not np.iinfo(int_dtype).min <= base <= np.iinfo(int_dtype).max:
        raise ScbfV2Error(f"block encoding base {base} out of range for {dtype}")
    if exp is not None and kind == "for":
        out = u.astype("<f8")
        out += base
        return _unscale(out, exp)
    out = u.astype(int_dtype)
    if kind == "delta":
        np.cumsum(out, out=out)
    out += int_dtype.type(base)
    return out if exp is None else _unscale(out.astype("<f8"), exp)


def _trunc_min(s: str) -> str:
    """Truncating a min to a prefix is always safe (prefix <= full string)."""
    return s[:MAX_STAT_STR]


def _trunc_max(s: str) -> Optional[str]:
    """Upper-bound-preserving truncation for a max stat: a plain prefix would
    UNDERSTATE the max and make stats skipping drop files that contain
    matching rows. Like Parquet, increment the last retainable character of
    the kept prefix; if every kept character is already U+10FFFF (absurd),
    give up and store no max (treated as unbounded)."""
    if len(s) <= MAX_STAT_STR:
        return s
    prefix = s[:MAX_STAT_STR]
    for i in range(len(prefix) - 1, -1, -1):
        cp = ord(prefix[i])
        if cp < 0x10FFFF:
            return prefix[:i] + chr(cp + 1)
    return None


def _stats_of(values: np.ndarray, type_name: str, valid: Optional[np.ndarray]) -> Optional[dict]:
    vals = values if valid is None else values[valid]
    if vals.size == 0:
        return None
    if type_name == "bool":
        return {"min": bool(vals.min()), "max": bool(vals.max())}
    mn, mx = vals.min(), vals.max()
    if type_name == "float64":
        if np.isnan(mn) or np.isnan(mx):
            finite = vals[~np.isnan(vals)]
            if finite.size == 0:
                return None
            mn, mx = finite.min(), finite.max()
        return {"min": float(mn), "max": float(mx)}
    return {"min": int(mn), "max": int(mx)}


_BLOOM_MAX_BITS = 1 << 19  # 64 KiB of bits per column — bounded footer growth
_BLOOM_FPP = 0.01


def _bloom_value_bytes(v, type_name: str) -> bytes:
    """Canonical hash input per value: ints little-endian 8 bytes, strings
    UTF-8 — identical for int32/int64 widths so readers need no width info."""
    if type_name == "utf8":
        return str(v).encode("utf-8")
    return struct.pack("<q", int(v))


def _bloom_hashes(data: bytes, k: int, m: int) -> List[int]:
    """k bit positions via double hashing h1 + i*h2 over a blake2b-128 digest
    (stdlib, stable across platforms — the write/read contract)."""
    import hashlib

    d = hashlib.blake2b(data, digest_size=16).digest()
    h1 = int.from_bytes(d[:8], "little")
    h2 = int.from_bytes(d[8:], "little") | 1  # odd → full-period stepping
    return [(h1 + i * h2) % m for i in range(k)]


def _mix64(x: np.ndarray) -> np.ndarray:
    """splitmix64's finalizer over a uint64 array (wrapping arithmetic)."""
    x = x + np.uint64(0x9E3779B97F4A7C15)
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def _mix64_positions(values, k: int, m: int) -> np.ndarray:
    """The ``(len(values), k)`` bit positions of int ``values`` under hash id
    ``mix64``: ``h1 = mix(v)``, ``h2 = mix(h1) | 1``, and position ``i`` is
    ``(h1 + i·h2) mod 2^64 mod m``. Like blake2b's canonical bytes, the
    input is the int64 value, so int32 and int64 columns hash alike."""
    x = np.asarray(values, dtype=np.int64).view(np.uint64)
    h1 = _mix64(x)
    h2 = _mix64(h1) | np.uint64(1)  # odd → full-period stepping
    return (h1[:, None] + np.arange(k, dtype=np.uint64) * h2[:, None]) % np.uint64(m)


def _bloom_of(values, type_name: str, h: Optional[str] = None) -> Optional[dict]:
    """Standard Bloom filter over the column's distinct non-null values:
    m = -n·ln(p)/ln²2 bits (capped), k = m/n·ln2 hash probes. Stored
    base64(zlib(bits)) inside the JSON footer — a sparse filter compresses
    to near-nothing. ``h`` is the hash id (module docstring): ``mix64``
    (recorded as ``"h"``) by default for int columns, ``blake2b`` (no
    ``"h"``) for utf8."""
    import base64
    import math

    if h is None:
        h = "blake2b" if type_name == "utf8" else "mix64"
    distinct = np.unique(np.asarray(values, dtype=np.int64)) if h == "mix64" else set(values)
    n = len(distinct)
    if n == 0:
        return None
    m = min(_BLOOM_MAX_BITS, max(64, int(math.ceil(-n * math.log(_BLOOM_FPP) / (math.log(2) ** 2)))))
    k = max(1, min(16, round(m / n * math.log(2))))
    bits = np.zeros(m, dtype=bool)
    if h == "mix64":
        bits[_mix64_positions(distinct, k, m).ravel()] = True
    else:
        for v in distinct:
            for pos in _bloom_hashes(_bloom_value_bytes(v, type_name), k, m):
                bits[pos] = True
    packed = np.packbits(bits, bitorder="little").tobytes()
    bloom = {"m": m, "k": k, "bits": base64.b64encode(zlib.compress(packed, 6)).decode("ascii")}
    return bloom if h == "blake2b" else {"h": h, **bloom}


def bloom_contains(bloom: dict, value, type_name: str) -> bool:
    """May-contain test against a stored filter (False = provably absent)."""
    return bloom_may_contain_any(bloom, (value,), type_name)


def bloom_may_contain_any(bloom: dict, values: Sequence[Any], type_name: str) -> bool:
    """May-contain test for an ``IN`` list: False only when the filter proves
    every one of ``values`` absent. A ``mix64`` filter hashes all of them in
    one vectorized call.

    The decoded bit array is memoized on ``bloom`` itself (key ``_bits``), so
    a footer parsed once decodes each filter at most once however many
    values and filters probe it."""
    import base64

    m, k = bloom["m"], bloom["k"]
    bits = bloom.get("_bits")
    if bits is None:
        bits = bloom["_bits"] = np.unpackbits(
            np.frombuffer(zlib.decompress(base64.b64decode(bloom["bits"])), dtype=np.uint8),
            bitorder="little",
        )
    h = bloom.get("h", "blake2b")
    if h == "mix64":
        return bool(bits[_mix64_positions([int(v) for v in values], k, m)].all(axis=1).any())
    if h != "blake2b":
        raise ScbfV2Error(f"unknown Bloom hash id {h!r}")
    return any(
        all(bits[pos] for pos in _bloom_hashes(_bloom_value_bytes(v, type_name), k, m))
        for v in values
    )


def _encode_columns(bw: "_BlockWriter", table, bloom_set: set) -> List[dict]:
    """Encode every column of ``table`` as blocks via ``bw``; returns the
    per-column metadata entries (blocks, stats, optional bloom). One call per
    row group — or per file for ungrouped files (the original v2 layout).
    Lightweight encodings and ``mix64`` filters apply from ``ENC_MIN_ROWS``
    rows on."""
    import pyarrow as pa
    import pyarrow.compute as pc

    light = table.num_rows >= ENC_MIN_ROWS
    columns_meta: List[dict] = []
    for fld in table.schema:
        col = table.column(fld.name).combine_chunks()
        if isinstance(col, pa.ChunkedArray):
            col = col.chunk(0) if col.num_chunks else pa.array([], type=fld.type)
        t = fld.type
        null_count = col.null_count
        valid_np = None
        if null_count:
            valid_np = np.asarray(col.is_valid())
        blocks: Dict[str, BlockRef] = {}
        dvs: Optional[List[str]] = None  # set only by the utf8 branch

        if pa.types.is_boolean(t):
            type_name = "bool"
            vals = np.asarray(col.fill_null(False)).astype("u1")
            blocks["data"] = bw.put(vals.tobytes())
            stats = _stats_of(np.asarray(col.drop_null()).astype("u1"), "bool", None) if len(col) else None
        elif pa.types.is_integer(t) or pa.types.is_floating(t):
            if pa.types.is_floating(t):
                type_name = "float64"
                fill = 0.0
            elif t.bit_width <= 32:
                type_name = "int32"
                fill = 0
            else:
                type_name = "int64"
                fill = 0
            vals = np.asarray(col.fill_null(fill)).astype(_NP_DTYPES[type_name])
            if not light:
                raw, enc = vals.tobytes(), None
            elif type_name == "float64":
                raw, enc = _encode_floats(vals)
            else:
                raw, enc = _encode_ints(vals)
            bw.put_role(blocks, "data", raw, enc)
            stats = _stats_of(vals, type_name, valid_np)
        elif pa.types.is_string(t) or pa.types.is_large_string(t):
            type_name = "utf8"
            # Arrow-native path: dictionary_encode / offset-buffer reuse
            # instead of a to_pylist round-trip + object-dtype np.unique
            # (measured ~6× on the 200k bench column).
            from .codec import _utf8_raw_from_arrow

            filled = pc.fill_null(col, "")
            dict_arr = filled.dictionary_encode()
            uniq = dict_arr.dictionary
            if len(filled) and len(uniq) / len(filled) <= DICT_RATIO:
                # dictionary encoding: indices (u32, or an int encoding) +
                # sorted dict offsets + dict blob (sorted per the format
                # contract; remap the first-occurrence indices Arrow produces)
                order = np.asarray(pc.sort_indices(uniq))
                rank = np.empty(len(uniq), dtype=np.int32)
                rank[order] = np.arange(len(uniq), dtype=np.int32)
                idx = rank[dict_arr.indices.to_numpy(zero_copy_only=False)]
                d_off_raw, d_blob = _utf8_raw_from_arrow(uniq.take(pa.array(order)))
                raw, enc = _encode_ints(idx) if light else (idx.astype("<u4").tobytes(), None)
                bw.put_role(blocks, "indices", raw, enc)
                blocks["dict_offsets"] = bw.put(d_off_raw)
                blocks["dict_blob"] = bw.put(d_blob)
            else:
                off_raw, blob = _utf8_raw_from_arrow(filled)
                blocks["offsets"] = bw.put(off_raw)
                blocks["blob"] = bw.put(blob)
            nn = col.drop_null()
            if len(nn):
                mm = pc.min_max(nn)
                stats = {"min": _trunc_min(str(mm["min"].as_py()))}
                mx_t = _trunc_max(str(mm["max"].as_py()))
                if mx_t is not None:
                    stats["max"] = mx_t
                # distinct-value-set stats for low-NDV columns (exact IN/=
                # pruning — see DVS_MAX). An optional JSON footer key: pre-dvs
                # readers ignore it, the format version stays 2.
                uniq_nn = pc.unique(nn)
                if len(uniq_nn) <= DVS_MAX:
                    vals_py = [str(v) for v in uniq_nn.to_pylist()]
                    if all(len(v) <= MAX_STAT_STR for v in vals_py):
                        dvs = sorted(vals_py)
            else:
                stats = None
        else:
            raise ScbfV2Error(
                f"column {fld.name!r}: type {t} not representable in SCBF v2 "
                "(int32/int64/float64/bool/utf8)"
            )

        if null_count:
            bitmap = np.packbits(valid_np, bitorder="little")  # Arrow validity layout
            blocks["validity"] = bw.put(bitmap.tobytes())

        cm = {
            "name": fld.name,
            "type": type_name,
            "nullable": bool(null_count),
            "null_count": int(null_count),
            "dict": "indices" in blocks or "indices_enc" in blocks,
            "blocks": {k: v.to_json() for k, v in blocks.items()},
            "stats": stats,
        }
        if dvs is not None:
            cm["dvs"] = dvs
        if fld.name in bloom_set:
            if type_name not in BLOOM_TYPES:
                raise ScbfV2Error(
                    f"bloom filter on column {fld.name!r}: only int/string "
                    f"columns are supported (got {type_name})"
                )
            nn = col.drop_null()
            if type_name == "utf8":
                bloom = _bloom_of(pc.unique(nn).to_pylist(), type_name)
            else:
                bloom = _bloom_of(np.asarray(nn), type_name, "mix64" if light else "blake2b")
            if bloom is not None:
                key = _BLOOM_KEYS[bloom.get("h", "blake2b")]
                cm[key] = bloom
                if key != "bloom":
                    bw.features.add(key)
        columns_meta.append(cm)
    return columns_meta


def _merged_columns_meta(groups: List[dict]) -> List[dict]:
    """File-level column metadata synthesized from per-group entries, so
    grouped files keep the same footer shape consumers already read (schema
    listing, null counts, min/max pruning). Mins/maxes fold conservatively
    (a group whose string max was truncated away makes the file max unbounded
    too); the merged entries carry no blocks — data lives in the groups."""
    out: List[dict] = []
    for i, c0 in enumerate(groups[0]["columns"]):
        cols = [g["columns"][i] for g in groups]
        present = [c["stats"] for c in cols if c["stats"]]
        stats: Optional[dict] = None
        if present:
            stats = {"min": min(s["min"] for s in present)}
            if all("max" in s for s in present):
                stats["max"] = max(s["max"] for s in present)
        merged = {
            "name": c0["name"],
            "type": c0["type"],
            "nullable": any(c["nullable"] for c in cols),
            "null_count": sum(c["null_count"] for c in cols),
            "dict": False,
            "blocks": {},
            "stats": stats,
        }
        # file-level distinct-value set = union of per-group sets, kept only
        # while every group has one and the union stays within DVS_MAX (the
        # same bound as per-group sets — footer growth stays capped)
        group_dvs = [c.get("dvs") for c in cols]
        if all(d is not None for d in group_dvs):
            union = sorted(set().union(*[set(d) for d in group_dvs]))
            if len(union) <= DVS_MAX:
                merged["dvs"] = union
        out.append(merged)
    return out


def write_arrow_table(
    path: str,
    table,
    level: int = DEFAULT_ZLIB_LEVEL,
    bloom_columns: Optional[Sequence[str]] = None,
    codec: str = "zlib",
    rows_per_group: Optional[int] = None,
) -> None:
    """Write a ``pyarrow.Table`` as one SCBF v2 file (nulls allowed).

    ``bloom_columns`` (int/string columns) additionally get a per-file Bloom
    filter in the footer: point-lookup (``=`` / ``IN``) predicates can then
    skip files whose key RANGE overlaps but which provably lack the value —
    the case min/max stats cannot prune (Parquet's column bloom filters,
    SPARK-34562, solve exactly this).

    ``rows_per_group`` splits the file into intra-file **row groups** (the
    Parquet analogy): each group carries its own blocks, min/max stats, and
    blooms, so a selective read of one large file skips whole groups' I/O —
    file-level stats can only skip ALL of a file, which stops helping once
    compaction grows files to hundreds of MB. ``None`` (default) keeps the
    original single-group layout BYTE-IDENTICAL (small files pay no footer
    growth); files with one group's worth of rows likewise. The footer keeps
    ``version: 2`` and file-level ``columns`` (merged stats, empty block
    maps), so schema listing and file-level pruning work unchanged on
    grouped files, and a pre-row-group reader fails loudly on the missing
    block refs rather than returning wrong rows."""
    bloom_set = set(bloom_columns or ())

    with open(path, "wb") as f:
        bw = _BlockWriter(f, level, codec)
        if rows_per_group is not None and rows_per_group <= 0:
            raise ScbfV2Error("rows_per_group must be positive (or None)")
        if rows_per_group is None or table.num_rows <= rows_per_group:
            columns_meta = _encode_columns(bw, table, bloom_set)
            meta = {"version": 2, "rows": table.num_rows, "codec": codec, "columns": columns_meta}
        else:
            groups = []
            for start in range(0, table.num_rows, rows_per_group):
                sl = table.slice(start, rows_per_group)
                groups.append({"rows": sl.num_rows, "columns": _encode_columns(bw, sl, bloom_set)})
            meta = {
                "version": 2,
                "rows": table.num_rows,
                "codec": codec,
                "columns": _merged_columns_meta(groups),
                "row_groups": groups,
            }
        if bw.features:
            meta["features"] = sorted(bw.features)
        meta_comp = zlib.compress(json.dumps(meta).encode("utf-8"), level)
        f.write(meta_comp)
        f.write(struct.pack("<Q", len(meta_comp)))
        f.write(MAGIC_V2)


def read_meta(path) -> dict:
    """Footer metadata of a v2 file (EOF-ranged read, no data blocks touched).
    ``path`` may be an open binary file, which stays open. Raises
    ``ScbfV2Error`` when the footer's ``features`` name one this reader
    does not implement."""
    with _opened(path) as f:
        f.seek(0)
        if f.read(8) != MAGIC_V2:
            raise ScbfV2Error("bad magic: not an SCBF v2 file")
        f.seek(-16, 2)
        meta_len, tail = struct.unpack("<Q8s", f.read(16))
        if tail != MAGIC_V2:
            raise ScbfV2Error("bad tail magic: truncated or corrupt SCBF v2 file")
        f.seek(-16 - meta_len, 2)
        meta = json.loads(zlib.decompress(f.read(meta_len)).decode("utf-8"))
    unknown = set(meta.get("features", ())) - FEATURES
    if unknown:
        raise ScbfV2Error(
            f"file uses format features {sorted(unknown)} this reader does not implement"
        )
    return meta


def _get_block(f: BinaryIO, ref: BlockRef, verify: bool = True, codec: str = "zlib") -> bytes:
    """Read and decompress one block — every SCBF block read, v1 or v2. A v1
    block (``codec.read_meta``) has no CRC and only an advisory size, so
    ``crc32`` / ``uncomp`` None skip those checks."""
    f.seek(ref.offset)
    comp = f.read(ref.comp)
    if verify and ref.crc32 is not None and (zlib.crc32(comp) & 0xFFFFFFFF) != ref.crc32:
        raise ScbfV2Error(f"crc32 mismatch at offset {ref.offset}: corrupted block")
    raw = BLOCK_CODECS[codec][1](comp)
    if ref.uncomp is not None and len(raw) != ref.uncomp:
        raise ScbfV2Error("uncompressed size mismatch: corrupted block")
    return raw


def _values(
    f: BinaryIO, refs: Dict[str, BlockRef], role: str, dtype: str, rows: int, verify: bool, codec: str
) -> np.ndarray:
    """Block ``role`` of one column as ``rows`` values of ``dtype``, decoded
    from its ``<role>_enc`` form when the file stores that."""
    ref = refs.get(role + "_enc")
    if ref is None:
        return np.frombuffer(_get_block(f, refs[role], verify, codec), dtype=dtype, count=rows)
    if ref.enc is None:
        raise ScbfV2Error(f"block {role}_enc has no encoding entry")
    return _decode(_get_block(f, ref, verify, codec), ref.enc, np.dtype(dtype), rows)


def _pick(columns_meta: Sequence[dict], selected: Optional[Sequence[str]]) -> List[dict]:
    """The column entries ``selected`` names, in request order; ``None`` is
    every column by position, so duplicate names (v1 allows them) each keep
    their own entry. A named lookup resolves a duplicate last-wins, like the
    reference reader (reader.py:120)."""
    if selected is None:
        return list(columns_meta)
    by_name = {c["name"]: c for c in columns_meta}
    missing = [n for n in selected if n not in by_name]
    if missing:
        raise KeyError(f"Column {missing[0]} not found")
    return [by_name[n] for n in selected]


_PA_TYPES = {"int32": "int32", "int64": "int64", "float64": "float64", "bool": "bool_", "utf8": "string"}


def read_arrow_table(
    path,
    columns: Optional[Sequence[str]] = None,
    verify_crc: bool = True,
    group_indices: Optional[Sequence[int]] = None,
    meta: Optional[dict] = None,
):
    """Pruned Arrow read of an SCBF file — v2, or v1 given ``meta`` from
    ``codec.read_meta``. Validity bitmaps and string buffers go to Arrow as
    raw buffers (the on-disk layout IS Arrow's layout). ``columns`` None
    reads every column by position.

    ``group_indices`` restricts the read to those groups of a grouped file —
    the SPLIT primitive: the DataSource plans one unit per group of a file
    bigger than its share of a scan, so executors scan a single large
    compacted file in parallel (Parquet's row-group split model). An
    ungrouped file is the single group 0. Pruning
    groups under pushed filters is ``SCBFReader.to_arrow(filters=...)``'s job.

    ``path`` may be an open binary file, and ``meta`` its already-parsed
    footer (``read_meta``), so a caller holding both reads no footer again."""
    import pyarrow as pa

    if meta is None:
        meta = read_meta(path)
    codec = meta.get("codec", "zlib")  # absent in pre-codec files
    if codec not in BLOCK_CODECS:
        raise ScbfV2Error(f"file uses unknown codec {codec!r}; have {sorted(BLOCK_CODECS)}")
    selected = list(columns) if columns is not None else None
    # per-group nullability can differ (one group has nulls, another
    # doesn't); concat needs one schema, so force the file-level flags
    nullable = {c["name"]: bool(c["nullable"]) for c in meta["columns"]}

    groups = meta.get("row_groups")
    if groups is None:
        if group_indices is not None and any(i != 0 for i in group_indices):
            raise ScbfV2Error(
                f"group_indices {list(group_indices)!r} on an ungrouped file "
                "(only [0] is valid)"
            )
        groups = [meta]
    want = range(len(groups)) if group_indices is None else group_indices
    with _opened(path) as f:
        tables = [
            _read_group(
                f, codec, groups[i]["columns"], groups[i]["rows"], selected, verify_crc, nullable
            )
            for i in want
        ]
    if not tables:
        empty_fields = [
            pa.field(c["name"], getattr(pa, _PA_TYPES[c["type"]])(), nullable=nullable[c["name"]])
            for c in _pick(meta["columns"], selected)
        ]
        return pa.Table.from_arrays(
            [pa.nulls(0, fl.type) for fl in empty_fields], schema=pa.schema(empty_fields)
        )
    return pa.concat_tables(tables)


def _utf8_offsets(raw: bytes, n: int, blob_len: int, name: str):
    """The Arrow offsets buffer of ``n`` strings from a stored u32 offsets
    block, checked in one pass first: Arrow trusts offsets, and a
    decreasing pair aborts the process on access, one past the blob reads
    out of bounds and one at 2**31 or above reads as negative (v1's u32
    layout allows it). Raises ``ScbfV2Error`` naming the column."""
    import pyarrow as pa

    offs = np.frombuffer(raw, dtype="<u4", count=n + 1) if 0 <= n and 4 * (n + 1) <= len(raw) else None
    if (
        offs is None
        or offs[0] != 0
        or offs[-1] != blob_len
        or offs[-1] > 2**31 - 1
        or not (offs[1:] >= offs[:-1]).all()
    ):
        raise ScbfV2Error(
            f"column {name!r}: corrupt utf8 offsets (need {n + 1} non-decreasing offsets "
            f"from 0 to the blob length {blob_len}, below 2**31)"
        )
    return pa.py_buffer(offs)


def _read_group(
    f: BinaryIO,
    codec: str,
    columns_meta: List[dict],
    rows: int,
    selected: Optional[Sequence[str]],
    verify_crc: bool,
    nullable_override: Optional[Dict[str, bool]] = None,
):
    """Decode one block set (a row group, a whole ungrouped v2 file, or a v1
    file); ``selected`` None reads every column."""
    import pyarrow as pa

    arrays, fields = [], []
    for cm in _pick(columns_meta, selected):
        name = cm["name"]
        refs = {k: BlockRef.from_json(v) for k, v in cm["blocks"].items()}
        validity_buf = None
        if "validity" in refs:
            validity_buf = pa.py_buffer(_get_block(f, refs["validity"], verify_crc, codec))
        pa_type = getattr(pa, _PA_TYPES[cm["type"]])()

        if cm["type"] == "utf8":
            if cm["dict"]:
                # plain indices are u32 below 2**31: the same bytes as int32
                idx = _values(f, refs, "indices", "<i4", rows, verify_crc, codec)
                d_offs = _get_block(f, refs["dict_offsets"], verify_crc, codec)
                d_blob = _get_block(f, refs["dict_blob"], verify_crc, codec)
                n_dict = len(d_offs) // 4 - 1
                # one pass over every slot (nulls hold a valid index too):
                # read as u32, a negative index is also >= n_dict
                if rows and int(idx.view("<u4").max()) >= n_dict:
                    raise ScbfV2Error(f"column {name!r}: dictionary index outside [0, {n_dict})")
                dict_arr = pa.StringArray.from_buffers(
                    n_dict, _utf8_offsets(d_offs, n_dict, len(d_blob), name), pa.py_buffer(d_blob)
                )
                indices = pa.Array.from_buffers(pa.int32(), rows, [validity_buf, pa.py_buffer(idx)])
                arr = pa.DictionaryArray.from_arrays(indices, dict_arr).cast(pa.string())
            else:
                offs = _get_block(f, refs["offsets"], verify_crc, codec)
                blob = _get_block(f, refs["blob"], verify_crc, codec)
                arr = pa.StringArray.from_buffers(
                    rows, _utf8_offsets(offs, rows, len(blob), name), pa.py_buffer(blob), validity_buf
                )
        else:
            vals = _values(f, refs, "data", _NP_DTYPES[cm["type"]], rows, verify_crc, codec)
            if cm["type"] == "bool":
                # stored as u1 bytes; Arrow wants bit-packed values
                data_buf = pa.py_buffer(np.packbits(vals.astype(bool), bitorder="little").tobytes())
            else:
                data_buf = pa.py_buffer(vals)
            arr = pa.Array.from_buffers(pa_type, rows, [validity_buf, data_buf])

        arrays.append(arr)
        nullable = cm["nullable"] if nullable_override is None else nullable_override[name]
        fields.append(pa.field(name, pa_type, nullable=bool(nullable)))
    return pa.Table.from_arrays(arrays, schema=pa.schema(fields))


# ---------------------------------------------------------------------------
# Stats-based pruning (file skipping under pushed filters)
# ---------------------------------------------------------------------------


def file_may_match(meta: dict, filters: Sequence[Any]) -> bool:
    """Conservative stats check: False only when some pushed filter PROVES the
    file has no matching rows. ``filters`` are pyspark.sql.datasource Filter
    dataclasses; unknown filter shapes are ignored (treated as may-match).

    Row-grouped files match iff ANY group may match — per-group stats are
    strictly tighter than the merged file-level stats, and per-group blooms
    exist where the merged entry has none."""
    if meta.get("row_groups"):
        return any(
            _stats_may_match(g["columns"], g["rows"], filters) for g in meta["row_groups"]
        )
    return _stats_may_match(meta["columns"], meta["rows"], filters)


def _stats_may_match(columns_meta: Sequence[dict], rows: int, filters: Sequence[Any]) -> bool:
    """``file_may_match`` core over one block set's column metadata — used
    per file (ungrouped), per row group (grouped), and per hive partition
    directory (its values as constant stats: min = max = value, no nulls)."""
    from pyspark.sql.datasource import (
        EqualTo,
        GreaterThan,
        GreaterThanOrEqual,
        In,
        IsNotNull,
        IsNull,
        LessThan,
        LessThanOrEqual,
    )

    stats_by_col: Dict[str, dict] = {}
    nulls_by_col: Dict[str, int] = {}
    bloom_by_col: Dict[str, tuple] = {}
    dvs_by_col: Dict[str, set] = {}
    for c in columns_meta:
        if c.get("stats"):
            stats_by_col[c["name"]] = c["stats"]
        bloom = c.get("bloom_mix64") or c.get("bloom")
        if bloom:
            bloom_by_col[c["name"]] = (bloom, c["type"])
        if c.get("dvs") is not None:
            dvs_by_col[c["name"]] = set(c["dvs"])
        nulls_by_col[c["name"]] = c.get("null_count")

    for flt in filters:
        col = flt.attribute[0] if getattr(flt, "attribute", None) else None
        if col is None:
            continue
        st = stats_by_col.get(col)
        if isinstance(flt, IsNotNull):
            if rows and nulls_by_col.get(col) == rows:
                return False
            continue
        if isinstance(flt, IsNull):
            # a column this block set lacks (schema evolution) reads as nulls
            if col in nulls_by_col and nulls_by_col[col] == 0:
                return False
            continue
        # `= v` is `IN (v)`: each point-lookup proof below is written once
        if isinstance(flt, EqualTo):
            flt = In(flt.attribute, (flt.value,))
        # Distinct-value-set check first: EXACT membership proof for = / IN
        # on low-NDV string columns — prunes where the Bloom check below can
        # only say "probably present" (its false positives keep the group)
        # and min/max only bounds the range. String probes only: a non-string
        # probe on a utf8 column can't have been pushed from a typed plan.
        dv = dvs_by_col.get(col)
        if dv is not None and isinstance(flt, In):
            str_probes = [v for v in flt.value if isinstance(v, str)]
            if len(str_probes) == len(flt.value) and not (set(str_probes) & dv):
                return False
        # Bloom check for point lookups: skips files whose key RANGE overlaps
        # but which provably lack the value — the case min/max can't prune.
        bl = bloom_by_col.get(col)
        if bl is not None and isinstance(flt, In):
            bloom, tname = bl
            try:
                if not bloom_may_contain_any(bloom, flt.value, tname):
                    return False
            except (TypeError, ValueError, OverflowError):
                pass  # incomparable probe type → fall through to stats
        if st is None:
            continue
        # "max" may be absent (upper-bound truncation gave up) → unbounded
        mn, mx = st["min"], st.get("max")
        try:
            if isinstance(flt, GreaterThan) and not (mx is None or mx > flt.value):
                return False
            if isinstance(flt, GreaterThanOrEqual) and not (mx is None or mx >= flt.value):
                return False
            if isinstance(flt, LessThan) and not (mn < flt.value):
                return False
            if isinstance(flt, LessThanOrEqual) and not (mn <= flt.value):
                return False
            if isinstance(flt, In) and not any(
                mn <= v and (mx is None or v <= mx) for v in flt.value
            ):
                return False
        except TypeError:
            continue  # incomparable types (e.g. str filter on numeric stats)
    return True

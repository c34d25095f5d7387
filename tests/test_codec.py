"""SCBF codec unit + property tests: round-trip over the three types and the
edge cases probed in SURVEY.md §1.2, golden-read of the reference's own
sample file, and two-way byte-compat with the reference implementation
(reference writer.py/reader.py, loaded from /root/reference when present)."""

import importlib.util
import math
import os
import struct

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from custom_columnar_format_spark.scbf import codec
from custom_columnar_format_spark.scbf.reader_api import SCBFReader

from .conftest import REFERENCE

REF_SAMPLE = os.path.join(REFERENCE, "examples", "sample.scbf")


def _load_ref_module(name):
    path = os.path.join(REFERENCE, f"{name}.py")
    if not os.path.exists(path):
        pytest.skip(f"reference module missing: {path}")
    spec = importlib.util.spec_from_file_location(f"ref_{name}", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def read_columns(path, names):
    with SCBFReader(path) as r:
        return r.read_columns(names)


def roundtrip(tmp_path, names, types, columns):
    path = str(tmp_path / "t.scbf")
    codec.write_table_path(path, names, types, columns)
    got = read_columns(path, names)
    return {n: list(got[n]) for n in names}


def test_roundtrip_three_types(tmp_path):
    names = ["i", "f", "s"]
    types = [codec.TYPE_INT32, codec.TYPE_FLOAT64, codec.TYPE_UTF8]
    cols = [[1, -2, 2**31 - 1, -(2**31)], [0.5, -1.25, 1e300, 0.0], ["a", "", "héllo ✓", "x" * 1000]]
    got = roundtrip(tmp_path, names, types, cols)
    assert got["i"] == cols[0]
    assert got["f"] == cols[1]
    assert got["s"] == cols[2]


def test_roundtrip_nan_inf(tmp_path):
    got = roundtrip(tmp_path, ["f"], [codec.TYPE_FLOAT64], [[math.nan, math.inf, -math.inf]])
    assert math.isnan(got["f"][0]) and got["f"][1] == math.inf and got["f"][2] == -math.inf


def test_int32_overflow_rejected(tmp_path):
    with pytest.raises(codec.ScbfError):
        codec.write_table_path(str(tmp_path / "o.scbf"), ["i"], [codec.TYPE_INT32], [[2**31]])


@pytest.mark.parametrize(
    "names,types,columns",
    [
        (["i", "f", "s"], [codec.TYPE_INT32, codec.TYPE_FLOAT64, codec.TYPE_UTF8],
         [[1, -(2**31), 2**31 - 1], [math.nan, math.inf, -math.inf], ["", "héllo ✓", "x"]]),
        (["a", "a", "b"], [codec.TYPE_INT32, codec.TYPE_UTF8, codec.TYPE_FLOAT64],
         [[1, 2], ["x", "y"], [0.5, -0.0]]),
        (["i", "f", "s"], [codec.TYPE_INT32, codec.TYPE_FLOAT64, codec.TYPE_UTF8], [[], [], []]),
        ([], [], []),
    ],
    ids=["nan_inf", "duplicate_names", "empty_columns", "no_columns"],
)
def test_list_api_and_arrow_write_identical_bytes(tmp_path, names, types, columns):
    """The list API and the Arrow API are one encoder: the same data gives
    the same file, byte for byte (duplicate names included)."""
    import pyarrow as pa

    arrow_type = {codec.TYPE_INT32: pa.int32(), codec.TYPE_FLOAT64: pa.float64(),
                  codec.TYPE_UTF8: pa.string()}
    table = pa.Table.from_arrays(
        [pa.array(c, type=arrow_type[t]) for t, c in zip(types, columns)], names=names
    )
    lists, arrow = str(tmp_path / "lists.scbf"), str(tmp_path / "arrow.scbf")
    codec.write_table_path(lists, names, types, columns)
    codec.write_arrow_table(arrow, table)
    with open(lists, "rb") as a, open(arrow, "rb") as b:
        assert a.read() == b.read()
    last = dict(zip(names, columns))  # the reader resolves a duplicate name last-wins
    assert repr(read_columns(lists, list(last))) == repr(last)
    # a whole-file read keeps every column, duplicates included, by position
    got = codec.read_arrow_table(lists)
    assert got.column_names == names and got.schema.types == table.schema.types
    assert repr([c.to_pylist() for c in got.columns]) == repr(list(columns))
    with SCBFReader(lists) as r:
        assert repr(r.read_all()) == repr((names, [list(row) for row in zip(*columns)]))


def test_list_api_rejects_bad_shapes(tmp_path):
    p = str(tmp_path / "bad.scbf")
    with pytest.raises(codec.ScbfError, match="length mismatch"):
        codec.write_table_path(p, ["a", "b"], [codec.TYPE_INT32], [[1], [2]])
    with pytest.raises(codec.ScbfError, match="ragged"):
        codec.write_table_path(p, ["a", "b"], [codec.TYPE_INT32] * 2, [[1], [2, 3]])
    with pytest.raises(codec.ScbfError, match="unknown type code"):
        codec.write_table_path(p, ["a"], [9], [[1]])


def test_selective_read_order_and_unknown(tmp_path):
    path = str(tmp_path / "t.scbf")
    codec.write_table_path(
        path, ["a", "b", "c"], [codec.TYPE_INT32] * 3, [[1], [2], [3]]
    )
    got = read_columns(path, ["c", "a"])
    assert list(got.keys()) == ["c", "a"]  # request order preserved (reference reader.py:111-133)
    with pytest.raises(KeyError):
        read_columns(path, ["nope"])


def test_str_uncomp_field_correct(tmp_path):
    """The reference writer clobbers str_uncomp with an offset (writer.py:208);
    our writer must store the true uncompressed blob length."""
    path = str(tmp_path / "t.scbf")
    vals = ["abc", "defg", ""]
    codec.write_table_path(path, ["s"], [codec.TYPE_UTF8], [vals])
    with open(path, "rb") as f:
        info = codec.read_file_info(f)
    (meta,) = info.columns
    assert meta.str_uncomp_size == len("".join(vals).encode("utf-8"))
    # a reader treats the field as advisory: junk there, as the reference
    # writer leaves, still decodes
    name_len = 2 + len(meta.name.encode("utf-8"))
    at = info.meta_table_offset + name_len + 1 + 8 + 3 * 8
    with open(path, "r+b") as f:
        f.seek(at)
        f.write(struct.pack("<Q", 0xDEADBEEF))
    with open(path, "rb") as f:
        assert codec.read_file_info(f).columns[0].str_uncomp_size == 0xDEADBEEF
    assert codec.read_arrow_table(path).column("s").to_pylist() == vals
    assert read_columns(path, ["s"]) == {"s": vals}


@pytest.mark.skipif(not os.path.exists(REF_SAMPLE), reason="reference sample not present")
def test_golden_read_reference_sample():
    with SCBFReader(REF_SAMPLE) as r:
        names, rows = r.read_all()
    assert len(rows) == 3 and len(names) == len(rows[0])


@pytest.mark.skipif(not os.path.isdir(REFERENCE), reason="reference not present")
def test_reference_reads_our_file(tmp_path):
    """Byte-compat forward: a file written by this codec decodes identically
    through the reference's reader.py (reader.py:135 read_all)."""
    ref_reader = _load_ref_module("reader")
    path = str(tmp_path / "ours.scbf")
    cols = [[1, 2, 3], [1.5, -2.5, 0.0], ["x", "", "yy"]]
    codec.write_table_path(
        path, ["i", "f", "s"], [codec.TYPE_INT32, codec.TYPE_FLOAT64, codec.TYPE_UTF8], cols
    )
    names, rows = ref_reader.read_all(path)
    assert names == ["i", "f", "s"]
    assert [list(r) for r in rows] == [[1, 1.5, "x"], [2, -2.5, ""], [3, 0.0, "yy"]]


@pytest.mark.skipif(not os.path.isdir(REFERENCE), reason="reference not present")
def test_we_read_reference_file(tmp_path):
    """Byte-compat backward: a file written by the reference's writer.py
    (writer.py:28 write_scbf) decodes through this codec."""
    ref_writer = _load_ref_module("writer")
    csv_path = tmp_path / "in.csv"
    csv_path.write_text("id,score,name\n1,1.5,alpha\n2,2.5,beta\n")
    scbf_path = str(tmp_path / "ref.scbf")
    ref_writer.write_scbf(str(csv_path), scbf_path)
    got = read_columns(scbf_path, ["name", "id"])
    assert list(got["id"]) == [1, 2]
    assert list(got["name"]) == ["alpha", "beta"]


@settings(max_examples=25, deadline=None)
@given(
    ints=st.lists(st.integers(min_value=-(2**31), max_value=2**31 - 1), min_size=1, max_size=50),
    texts=st.lists(st.text(max_size=40), min_size=1, max_size=50),
)
def test_property_roundtrip(tmp_path_factory, ints, texts):
    n = min(len(ints), len(texts))
    tmp = tmp_path_factory.mktemp("prop")
    path = str(tmp / "p.scbf")
    codec.write_table_path(
        path, ["i", "s"], [codec.TYPE_INT32, codec.TYPE_UTF8], [ints[:n], texts[:n]]
    )
    got = read_columns(path, ["i", "s"])
    assert list(got["i"]) == ints[:n] and list(got["s"]) == texts[:n]

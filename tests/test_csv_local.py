"""``csv_to_custom`` against the list pipeline it replaced.

The conversion parses the CSV into Arrow string columns and infers and
converts them with ``scbf.inference``'s Arrow-column forms. The list
functions (``infer_full``/``infer_compat``/``parse_column``) and
``codec.write_table_path`` stay as the reference: per column the two must
agree on type code and values bit for bit, or both raise, and end to end
they must write the same bytes. The v1 encoder compresses blocks on threads
only when a caller asks, and the Spark writer never does.
"""

import argparse
import concurrent.futures
import csv
import hashlib
import sys

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from custom_columnar_format_spark import cli
from custom_columnar_format_spark.scbf import codec, inference
from custom_columnar_format_spark.scbf.codec import (
    TYPE_FLOAT64,
    TYPE_INT32,
    TYPE_UTF8,
    ScbfError,
)

FIXED_CELLS = [
    "0x1f", "+5", " 5", "5 ", "1_0", "٣", "007", "1e3", ".5", "5.", "inf", "-nan",
    "Infinity", "", "2147483647", "2147483648", "-2147483649", "99999999999999999999",
]

#: ``write_table_path``'s Arrow types for the list values
LIST_ARROW_TYPES = {TYPE_INT32: pa.int64(), TYPE_FLOAT64: pa.float64(), TYPE_UTF8: pa.large_string()}

numeric_cells = st.one_of(
    st.sampled_from(FIXED_CELLS),
    st.text(alphabet="0123456789+-.eE_ x٣", max_size=8),
    st.sampled_from(["nan", "NaN", "-inf", "+Infinity", "abc", "-0", "0.0", "1e400", "-.5e-3"]),
    st.integers(-(2**40), 2**40).map(str),
    st.floats(allow_nan=False).map(repr),
)


def _bits(values):
    """Values compared bit for bit: doubles by their 64-bit pattern (so
    ``-nan`` and ``-0.0`` count), everything else by value."""
    if pa.types.is_floating(values.type):
        return values.to_numpy(zero_copy_only=False).view(np.uint64).tolist()
    return values.to_pylist()


def _list_column(cells, compat):
    infer = inference.infer_compat if compat else inference.infer_full
    code = infer([(c,) for c in cells], 1)[0]
    try:
        values = pa.array(inference.parse_column(cells, code), type=LIST_ARROW_TYPES[code])
    except (ScbfError, OverflowError):  # OverflowError: write_table_path's int64 array
        return code, None
    return code, values


def _arrow_column(cells, compat, split):
    strings = pa.array(cells, pa.large_string())
    col = pa.chunked_array([strings[:split], strings[split:]], pa.large_string())
    infer = inference.infer_compat_arrow if compat else inference.infer_full_arrow
    (code,) = infer([col])
    try:
        values = inference.parse_arrow(col, code)
    except ScbfError:
        return code, None
    return code, pa.chunked_array([values]) if isinstance(values, pa.Array) else values


def _assert_column_agrees(cells, compat, split=0):
    want_code, want = _list_column(cells, compat)
    got_code, got = _arrow_column(cells, compat, min(split, len(cells)))
    assert got_code == want_code, (cells, compat)
    if want is None:
        assert got is None, (cells, compat, got)
    else:
        assert got is not None, (cells, compat)
        assert got.type == want.type and _bits(got) == _bits(want), (cells, compat)


@pytest.mark.parametrize("compat", [False, True])
@pytest.mark.parametrize("cell", FIXED_CELLS)
def test_fixed_cells_match_list_functions(cell, compat):
    """Each fixed case alone, after an int, after a float, after a string
    and after an empty cell."""
    for cells in ([cell], ["1", cell], ["2.5", cell], ["x", cell], ["", cell], [cell, "7"]):
        _assert_column_agrees(cells, compat, split=1)


@settings(max_examples=300, deadline=None)
@given(cells=st.lists(numeric_cells, max_size=8), compat=st.booleans(), split=st.integers(0, 8))
def test_arrow_column_forms_match_list_functions(cells, compat, split):
    _assert_column_agrees(cells, compat, split)


# ---------------------------------------------------------------------------
# End to end: the same file bytes as the list pipeline
# ---------------------------------------------------------------------------


def _list_pipeline(src, dst, compat):
    """The conversion as it was: csv.reader rows → infer_* → parse_column →
    write_table_path."""
    with open(src, newline="", encoding="utf-8") as f:
        rows = list(csv.reader(f))
    header, data = rows[0], rows[1:]
    infer = inference.infer_compat if compat else inference.infer_full
    types = infer(data, len(header))
    columns = [inference.parse_column([r[i] for r in data], types[i]) for i in range(len(header))]
    codec.write_table_path(dst, header, types, columns)


def _sha(path):
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


text_cells = st.text(
    alphabet=st.one_of(
        st.sampled_from(list(',"\n\r x;\'é€𝄞')),
        st.characters(blacklist_categories=("Cs",), blacklist_characters="\x00\ufeff"),
    ),
    max_size=10,
)
cells_any = st.one_of(numeric_cells, text_cells, st.sampled_from(["a,b", 'q"q', "l1\nl2", "w\r\nx"]))


@st.composite
def csv_tables(draw):
    n_cols = draw(st.integers(1, 4))
    header = draw(st.lists(st.sampled_from(["id", "a", "b", "名", "x,y", ""]), min_size=n_cols,
                           max_size=n_cols))
    kinds = draw(st.lists(st.sampled_from(["numeric", "any"]), min_size=n_cols, max_size=n_cols))
    n_rows = draw(st.integers(0, 6))
    rows = [
        [draw(numeric_cells if k == "numeric" else cells_any) for k in kinds]
        for _ in range(n_rows)
    ]
    return header, rows


@settings(max_examples=150, deadline=None)
@given(table=csv_tables(), compat=st.booleans())
def test_csv_to_custom_matches_list_pipeline(tmp_path_factory, table, compat):
    header, rows = table
    tmp = tmp_path_factory.mktemp("csv")
    src = str(tmp / "in.csv")
    with open(src, "w", newline="", encoding="utf-8") as f:
        w = csv.writer(f)
        w.writerow(header)
        w.writerows(rows)
    try:
        _list_pipeline(src, str(tmp / "list.scbf"), compat)
        want = _sha(tmp / "list.scbf")
    except (ScbfError, OverflowError):
        want = None
    args = argparse.Namespace(csv_path=src, out_path=str(tmp / "arrow.scbf"),
                              compat_inference=compat, compression_level=6)
    if want is None:
        with pytest.raises(ScbfError):
            cli.csv_to_custom(args)
    else:
        cli.csv_to_custom(args)
        assert _sha(tmp / "arrow.scbf") == want


# ---------------------------------------------------------------------------
# Concurrent compression
# ---------------------------------------------------------------------------


def _mixed_table(seed=0):
    rng = np.random.default_rng(seed)
    n = 50_000
    return pa.table({
        "id": np.arange(n, dtype=np.int32),
        "noise": rng.integers(-(2**31), 2**31 - 1, n).astype(np.int32),
        "x": rng.normal(size=n),
        "s": [f"user_{i % 977}" for i in range(n)],
        "empty": [""] * n,
    })


@pytest.mark.parametrize("level", [0, 1, 6, 9])
def test_v1_concurrent_compression_same_bytes(tmp_path, monkeypatch, level):
    """Serial and 4-worker compression write the same file, and the
    4-worker write really uses a pool."""
    pools = []

    class CountingPool(concurrent.futures.ThreadPoolExecutor):
        def __init__(self, *a, **kw):
            pools.append(a)
            super().__init__(*a, **kw)

    monkeypatch.setattr(concurrent.futures, "ThreadPoolExecutor", CountingPool)
    table = _mixed_table()
    codec.write_arrow_table(str(tmp_path / "serial.scbf"), table, level=level)
    assert pools == []
    codec.write_arrow_table(str(tmp_path / "pool.scbf"), table, level=level, workers=4)
    assert len(pools) == 1
    assert _sha(tmp_path / "pool.scbf") == _sha(tmp_path / "serial.scbf")


def test_spark_writer_compresses_serially(tmp_path, monkeypatch):
    """``ScbfWriter.write`` and ``commit`` create no thread pool for v1 or
    v2: the Spark tasks are the writer's parallelism."""
    from pyspark.sql.pandas.types import from_arrow_schema

    from custom_columnar_format_spark.scbf.reader_api import SCBFReader
    from custom_columnar_format_spark.sources import dataset_log
    from custom_columnar_format_spark.sources import scbf_datasource as sds

    class NoPool:
        def __init__(self, *a, **kw):
            raise AssertionError("the Spark writer created a thread pool")

    monkeypatch.setattr(concurrent.futures, "ThreadPoolExecutor", NoPool)
    for name, module in list(sys.modules.items()):
        if name.startswith("custom_columnar_format_spark") and hasattr(module, "ThreadPoolExecutor"):
            monkeypatch.setattr(module, "ThreadPoolExecutor", NoPool)
    table = _mixed_table()
    schema = from_arrow_schema(table.schema)
    for options in ({"version": "1"}, {"version": "2", "rows_per_group": "8192"}):
        out = str(tmp_path / f"v{options['version']}")
        writer = sds.ScbfWriter(schema, dict(options, path=out), overwrite=True)
        writer.commit([writer.write(iter(table.slice(off, 25_000).to_batches()))
                       for off in (0, 25_000)])
        files = dataset_log.current_files(out)
        assert sum(SCBFReader(f).num_rows for f in files) == table.num_rows

"""Per-file work happens once. The scbf DataSource plans and reads every file
through one ``SCBFReader`` handle, so — driven in-process the way Spark's
planner and tasks drive it (``schema()``, ``pushFilters``, ``partitions()``,
then ``read(p)``) over v1, ungrouped v2 and grouped v2 files:

- ``read(p)`` opens its file once and parses its footer/header once;
- ``schema()`` opens one file;
- planning an ``IN`` filter decodes each Bloom filter at most once per
  (file, row group, column)."""

import builtins
import collections
import os
import threading
from contextlib import contextmanager

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql.datasource import In

from custom_columnar_format_spark.scbf import codec, codec_v2
from custom_columnar_format_spark.sources import scbf_datasource as sds

FILES = 2
ROWS = 400
GROUP_ROWS = 100  # grouped layout: 4 row groups per file


def _table(lo: int):
    ids = np.arange(lo, lo + ROWS, dtype=np.int32)
    return pa.table(
        {"id": ids, "v": ids.astype(np.float64) / 2, "s": [f"s{i % 7}" for i in ids]}
    )


@pytest.fixture(params=["v1", "v2", "v2-grouped"])
def layout(request, tmp_path):
    d = str(tmp_path / request.param)
    os.makedirs(d)
    for i in range(FILES):
        path = os.path.join(d, f"part-{i:05d}.scbf")
        if request.param == "v1":
            codec.write_arrow_table(path, _table(i * ROWS))
        else:
            codec_v2.write_arrow_table(
                path,
                _table(i * ROWS),
                bloom_columns=["id"],
                rows_per_group=GROUP_ROWS if request.param == "v2-grouped" else None,
            )
    return request.param, d


@contextmanager
def _counting(monkeypatch):
    """Count, per file, every ``open()`` and footer/header parse."""
    lock = threading.Lock()
    opens, parses = collections.Counter(), collections.Counter()

    def key(src):
        return os.path.abspath(getattr(src, "name", src))

    def counted(fn, counter):
        def wrapper(src, *a, **k):
            with lock:
                counter[key(src)] += 1
            return fn(src, *a, **k)

        return wrapper

    with monkeypatch.context() as m:
        m.setattr(builtins, "open", counted(builtins.open, opens))
        m.setattr(codec_v2, "read_meta", counted(codec_v2.read_meta, parses))
        m.setattr(codec, "read_file_info", counted(codec.read_file_info, parses))
        yield opens, parses


def _units(parts) -> list:
    """(file basename, row group or None) of every planned unit, in order."""
    return [
        (os.path.basename(path), g)
        for p in parts
        for path, groups, _values in p.entries
        for g in ([None] if groups is None else groups)
    ]


def _source(options: dict, parallelism: int = 4):
    ds = sds.ScbfDataSource(options)
    ds.parallelism = parallelism
    return ds


def test_schema_opens_one_file(layout, monkeypatch):
    _, d = layout
    ds = sds.ScbfDataSource({"path": d})
    with _counting(monkeypatch) as (opens, parses):
        assert ds.schema().fieldNames() == ["id", "v", "s"]
    assert sum(opens.values()) == 1
    assert sum(parses.values()) == 1


@pytest.mark.parametrize("filtered", [False, True], ids=["unfiltered", "in-filter"])
def test_read_opens_and_parses_each_file_once(layout, monkeypatch, filtered):
    _, d = layout
    # grouped files are bigger than their share of 4 tasks: one unit per
    # row group, two adjacent units of one file per task
    ds = _source({"path": d})
    reader = ds.reader(ds.schema())
    if filtered:
        reader.pushFilters([In(("id",), (5, 250, ROWS + 5))])
    parts = reader.partitions()
    assert all(p.entries for p in parts)
    rows = 0
    for p in parts:
        with _counting(monkeypatch) as (opens, parses):
            rows += sum(b.num_rows for b in reader.read(p))
        want = {os.path.abspath(path): 1 for path, _groups, _values in p.entries}
        assert dict(opens) == want
        assert dict(parses) == want
    assert rows >= (3 if filtered else FILES * ROWS)


def test_in_planning_decodes_each_bloom_once(layout, monkeypatch):
    kind, d = layout
    decodes = collections.Counter()
    unpackbits = np.unpackbits

    def counted(*a, **k):
        decodes["bloom"] += 1
        return unpackbits(*a, **k)

    ds = _source({"path": d})
    reader = ds.reader(ds.schema())
    # three probes per filter: each group's Bloom on `id` is probed with
    # every value, but must be decoded once
    reader.pushFilters([In(("id",), (5, 250, ROWS + 5))])
    monkeypatch.setattr(np, "unpackbits", counted)
    parts = reader.partitions()
    groups = {"v1": 0, "v2": 1, "v2-grouped": ROWS // GROUP_ROWS}[kind]
    assert decodes["bloom"] <= FILES * groups
    if kind == "v2-grouped":
        # only the groups holding 5, 250 and ROWS + 5 survive
        assert _units(parts) == [
            ("part-00000.scbf", 0),
            ("part-00000.scbf", 2),
            ("part-00001.scbf", 0),
        ]

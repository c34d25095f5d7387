"""Scan planning packs units into byte-balanced partitions.

A unit is a whole file, or one surviving row group of a grouped file bigger
than its share of the scan's bytes. ``partitions()`` cuts the units, in
listing order, into ``min(units, max(parallelism, bytes / 128 MiB))``
contiguous runs of about equal stored bytes, and ``read()`` decodes a
partition unit by unit. Driven in-process, the way Spark's planner and
tasks drive the source."""

import collections
import os
import random

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual, In, LessThan

from custom_columnar_format_spark.scbf import codec_v2
from custom_columnar_format_spark.scbf.reader_api import SCBFReader
from custom_columnar_format_spark.sources import scbf_datasource as sds

ROWS = 2_000


def _write(d: str, i: int, lo: int, rows: int = ROWS, rows_per_group=None) -> str:
    """File ``i`` with ids ``lo .. lo + rows`` in a seeded shuffled order."""
    ids = np.random.default_rng(i).permutation(np.arange(lo, lo + rows, dtype=np.int64))
    path = os.path.join(d, f"part-{i:05d}.scbf")
    codec_v2.write_arrow_table(
        path,
        pa.table({"id": ids, "v": ids.astype(np.float64) * 0.5}),
        codec="none",
        bloom_columns=["id"],
        rows_per_group=rows_per_group,
    )
    return path


@pytest.fixture
def equal_files(tmp_path):
    d = str(tmp_path / "equal")
    os.makedirs(d)
    for i in range(8):
        _write(d, i, i * ROWS)
    return d


@pytest.fixture
def mixed_files(tmp_path):
    """Small files around one grouped file holding half the bytes."""
    d = str(tmp_path / "mixed")
    os.makedirs(d)
    lo = 0
    for i, (rows, rpg) in enumerate([(500, None), (1500, None), (8000, 1000), (700, None), (1200, None)]):
        _write(d, i, lo, rows, rpg)
        lo += rows
    return d


def _reader(d: str, parallelism: int, filters=()):
    ds = sds.ScbfDataSource({"path": d})
    ds.parallelism = parallelism
    reader = ds.reader(ds.schema())
    if filters:
        reader.pushFilters(list(filters))
    return reader


def _units(parts) -> list:
    """(file basename, row group or None) of every planned unit, in order."""
    return [
        (os.path.basename(path), g)
        for p in parts
        for path, groups, _values in p.entries
        for g in ([None] if groups is None else groups)
    ]


def _unit_bytes(d: str) -> dict:
    """Stored bytes of every possible unit: whole files and row groups."""
    out = {}
    for name in sorted(os.listdir(d)):
        path = os.path.join(d, name)
        out[(name, None)] = os.path.getsize(path)
        with SCBFReader(path) as h:
            for g, group in enumerate(h.groups):
                out[(name, g)] = sds._group_bytes(group)
    return out


def _partition_bytes(d: str, parts) -> list:
    size = _unit_bytes(d)
    return [sum(size[u] for u in _units([p])) for p in parts]


def _all_units(d: str, split: set) -> list:
    """Every unit of ``d`` in listing order, files in ``split`` per group."""
    out = []
    for name in sorted(os.listdir(d)):
        if name in split:
            with SCBFReader(os.path.join(d, name)) as h:
                out += [(name, g) for g in range(len(h.groups))]
        else:
            out.append((name, None))
    return out


@pytest.mark.parametrize("parallelism", range(1, 11))
def test_equal_files_pack_into_parallelism_runs(equal_files, parallelism):
    parts = _reader(equal_files, parallelism).partitions()
    # every unit exactly once, partitions concatenate to the listing order
    assert _units(parts) == _all_units(equal_files, set())
    assert len(parts) == min(8, parallelism)
    # equal files: partitions differ by at most one unit, and each is within
    # one unit of its share of the bytes
    counts = [len(_units([p])) for p in parts]
    assert max(counts) - min(counts) <= 1
    sizes = _partition_bytes(equal_files, parts)
    largest = max(_unit_bytes(equal_files).values())
    assert all(abs(s - sum(sizes) / len(parts)) <= largest for s in sizes)
    # a file's entry is one (path, None, values) triple per partition
    assert all(groups is None for p in parts for _path, groups, _v in p.entries)


@pytest.mark.parametrize("parallelism", [2, 3, 4, 6])
def test_big_grouped_file_splits_into_groups(mixed_files, parallelism):
    parts = _reader(mixed_files, parallelism).partitions()
    units = _all_units(mixed_files, {"part-00002.scbf"})
    assert _units(parts) == units
    assert len(parts) == min(len(units), parallelism)
    # each partition is within one unit of its share of the bytes
    size = _unit_bytes(mixed_files)
    sizes = _partition_bytes(mixed_files, parts)
    largest = max(size[u] for u in units)
    assert all(abs(s - sum(sizes) / len(parts)) <= largest for s in sizes)
    # adjacent groups of one file share one entry per partition
    for p in parts:
        paths = [path for path, _g, _v in p.entries]
        assert len(paths) == len(set(paths))


def test_file_within_its_share_stays_whole(mixed_files):
    # one task: no file is bigger than the whole scan
    parts = _reader(mixed_files, 1).partitions()
    assert len(parts) == 1
    assert _units(parts) == _all_units(mixed_files, set())


def test_pushed_filters_drop_groups_and_files_per_unit(mixed_files):
    # part-00000 holds ids 0..499, part-00002 2000..9999 in 8 groups (the
    # ids shuffled, so every group spans the file's range) and part-00003
    # 10000..10699
    filters = [In(("id",), (10, 2_500, 7_777, 10_100, 10_650))]
    parts = _reader(mixed_files, 4, filters).partitions()
    got = _units(parts)
    assert ("part-00000.scbf", None) in got and ("part-00003.scbf", None) in got
    assert not any(name in ("part-00001.scbf", "part-00004.scbf") for name, _g in got)
    # the grouped file's groups are kept or dropped one by one: each group
    # holds ids [2000, 10000) shuffled, so only the Bloom filters decide
    with SCBFReader(os.path.join(mixed_files, "part-00002.scbf")) as h:
        keep = [g for g in range(len(h.groups)) if h.may_match(filters, g)]
    assert 2 <= len(keep) < 8
    assert [g for name, g in got if name == "part-00002.scbf"] == keep
    assert got == sorted(got, key=lambda u: (u[0], -1 if u[1] is None else u[1]))

    # a range on the shuffled ids cannot prune groups of one file by min/max,
    # but prunes whole files
    filters = [GreaterThanOrEqual(("id",), 10_000), LessThan(("id",), 10_100)]
    parts = _reader(mixed_files, 4, filters).partitions()
    assert _units(parts) == [("part-00003.scbf", None)]


def test_all_pruned_plan_returns_the_empty_carrier(equal_files):
    parts = _reader(equal_files, 4, [EqualTo(("id",), -1)]).partitions()
    assert [p.entries for p in parts] == [[]]
    assert parts[0].file_path == ""
    reader = _reader(equal_files, 4)
    assert list(reader.read(parts[0])) == []


def test_unfiltered_plan_of_small_files_reads_no_footer(equal_files, monkeypatch):
    parses = collections.Counter()
    read_meta = codec_v2.read_meta

    def counted(f, *a, **k):
        parses[getattr(f, "name", f)] += 1
        return read_meta(f, *a, **k)

    reader = _reader(equal_files, 4)
    monkeypatch.setattr(codec_v2, "read_meta", counted)
    reader.partitions()
    assert not parses


def test_partition_count_grows_past_parallelism_by_max_partition_bytes(equal_files, monkeypatch):
    total = sum(os.path.getsize(os.path.join(equal_files, n)) for n in os.listdir(equal_files))
    monkeypatch.setattr(sds, "MAX_PARTITION_BYTES", total // 6 + 1)
    parts = _reader(equal_files, 2).partitions()
    assert len(parts) == 6  # ceil(total / MAX_PARTITION_BYTES) runs, not 2
    assert _units(parts) == _all_units(equal_files, set())


def test_stream_microbatch_of_new_files_packs_the_same_way(equal_files):
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType([StructField("id", LongType(), True)])
    for parallelism in (1, 3, 4, 8, 12):
        stream = sds.ScbfStreamReader(schema, {"path": equal_files}, parallelism)
        end = stream.latestOffset()
        assert end["count"] == 8
        parts = stream.partitions(stream.initialOffset(), end)
        assert len(parts) == min(8, parallelism)
        assert _units(parts) == _all_units(equal_files, set())
    # a microbatch with nothing new plans the empty carrier
    assert [p.entries for p in stream.partitions(end, end)] == [[]]


@pytest.mark.parametrize("filtered", [False, True], ids=["unfiltered", "in-filter"])
def test_read_decodes_unit_by_unit(mixed_files, monkeypatch, filtered):
    """A task opens each file once, never builds a table spanning units,
    and yields the rows of its units in planned order."""
    filters = [In(("id",), (10, 2_500, 7_777, 10_650))] if filtered else []
    reader = _reader(mixed_files, 4, filters)
    parts = reader.partitions()
    calls, opens = [], collections.Counter()
    to_arrow, init = SCBFReader.to_arrow, SCBFReader.__init__

    def recording_to_arrow(self, columns=None, groups=None, *a, **k):
        t = to_arrow(self, columns, groups, *a, **k)
        calls.append((os.path.basename(self.path), None if groups is None else list(groups), t.num_rows))
        return t

    def counting_init(self, path):
        opens[os.path.basename(path)] += 1
        init(self, path)

    monkeypatch.setattr(SCBFReader, "to_arrow", recording_to_arrow)
    monkeypatch.setattr(SCBFReader, "__init__", counting_init)
    ids = []
    for p in parts:
        opens.clear()
        calls.clear()
        for batch in reader.read(p):
            ids += batch.column("id").to_pylist()
        assert opens == collections.Counter(os.path.basename(path) for path, _g, _v in p.entries)
        assert all(n == 1 for n in opens.values())
        # one call per unit, each within one unit
        assert [(name, None if g is None else [g]) for name, g in _units([p])] == [
            (name, groups) for name, groups, _n in calls
        ]
    monkeypatch.undo()
    want = []
    for name, g in _units(parts):
        with SCBFReader(os.path.join(mixed_files, name)) as h:
            want += h.to_arrow(["id"], None if g is None else [g], filters).column("id").to_pylist()
    assert ids == want
    if not filtered:
        assert len(ids) == 500 + 1500 + 8000 + 700 + 1200


def test_cuts_keep_every_run_within_one_unit_of_its_share():
    rng = random.Random(7)
    for _ in range(3000):
        sizes = [rng.choice([rng.randint(0, 50), rng.randint(0, 5), 0]) for _ in range(rng.randint(1, 14))]
        n = rng.randint(1, len(sizes))
        ends = sds._cuts(sizes, n)
        starts = [0] + ends[:-1]
        assert len(ends) == n and ends[-1] == len(sizes)
        assert all(a < b for a, b in zip(starts, ends))  # no run is empty
        runs = [sum(sizes[a:b]) for a, b in zip(starts, ends)]
        assert all(abs(r - sum(sizes) / n) <= max(sizes) for r in runs), (sizes, n, runs)

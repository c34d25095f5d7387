"""Spark Python DataSource V2 for the SCBF columnar format.

Registers format ``"scbf"`` so the full DataFrame API works against SCBF data:

    spark.dataSource.register(ScbfDataSource)
    df = spark.read.format("scbf").load("/data/dir-or-file")
    df.select("a", "b").filter(...).groupBy(...)...
    df.write.format("scbf").mode("overwrite").save("/out/dir")

Design (Spark-first, NOT a translation of the reference's single-file engine):

- **Dataset = directory of SCBF files** (or one file for reference compat).
  A 100 TB dataset is many files. A scan packs them, in listing order, into
  about ``defaultParallelism`` input partitions of equal stored bytes (a
  grouped file bigger than its share contributes one unit per row group),
  so every core gets one task in one wave — Spark's ``FilePartition``
  packing for Parquet splits. The reference's
  single-file, absolute-offset layout (reference SPEC.md:18-26) cannot be
  appended to concurrently, so parallel writes emit one ``part-*.scbf`` per
  Spark partition — the same files-per-partition strategy Parquet uses.
- **Projection pushdown to the storage layer** — the format's raison d'être
  (reference reader.py:111-133): ``read()`` decompresses only the columns in
  the schema Spark hands to ``DataSource.reader(schema)``. Whether Catalyst
  prunes that schema or not, the ``columns`` read option always prunes
  explicitly, and the codec never touches unrequested blocks.
- **One file handle** — planning and reading go through
  ``scbf.reader_api.SCBFReader``, which opens each file once, parses its
  footer (v2) or header (v1) once and prunes with the one stats rule
  (``codec_v2._stats_may_match``); this module never branches on the file
  format, and hive directories prune under the same rule as constant stats.
- **Arrow exchange** — ``read()`` yields ``pyarrow.RecordBatch`` (SCBF's utf8
  layout is Arrow's StringArray layout, so strings transfer without per-value
  copying); the writer is a ``DataSourceArrowWriter``.
- **Commit protocol** — tasks write hidden ``.tmp-<uuid>.scbf`` files, and the
  job's ``commit()`` renames them to ``part-*`` names and then publishes one
  version of the dataset log (``sources/dataset_log.py``). A reader lists
  the files of the latest version, so a failed or speculative task, or a
  job that dies before its commit, never makes a file visible.
"""

from __future__ import annotations

import bisect
import glob as _glob
import itertools
import os
import re
import uuid
from dataclasses import dataclass
from typing import Iterator, List, Optional, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..scbf import codec, codec_v2
from ..scbf.reader_api import SCBFReader
from . import dataset_log

#: Spark type per SCBF column type name (v1's three types share v2's names)
SPARK_TYPES = {
    "int32": IntegerType(),
    "int64": LongType(),
    "float64": DoubleType(),
    "bool": BooleanType(),
    "utf8": StringType(),
}
#: the SCBF type names each format version writes: the codecs' own lists
_WRITABLE = {1: tuple(codec.TYPE_NAMES.values()), 2: codec_v2.V2_TYPES}


def _spark_classes(type_names: Sequence[str]) -> tuple:
    """The Spark type classes of SCBF type names, for ``isinstance``."""
    return tuple(type(SPARK_TYPES[t]) for t in type_names)


def _list_scbf_files(
    path: str, snapshot: Optional[str] = None, files: Optional[str] = None
) -> List[str]:
    """Resolve a load path to concrete SCBF files: a single file, a dataset
    directory (the latest version of its log; without a log, every ``*.scbf``
    below it, so hive-partitioned ``k=v`` subdirs are included — see
    ``sources/dataset_log.py``), or a glob pattern. With ``snapshot``, the
    listing comes from the pinned manifest instead (time travel — see
    ``operators/snapshot.py``)."""
    if snapshot is not None and files is not None:
        # both pin the file set; silently preferring one would read a set the
        # caller didn't ask for
        raise ValueError(
            "options 'snapshot' and 'files' both pin the file set — pass only one"
        )
    if snapshot is not None:
        from ..operators.snapshot import snapshot_files

        return snapshot_files(path, snapshot)
    if files is not None:
        # explicit file pinning (comma-separated paths relative to the
        # dataset root) — the snapshot change feed and external manifest
        # integrations use this; missing files fail loudly like snapshots do.
        # Entries must resolve INSIDE the root: an absolute path or a '..'
        # component would let a read option pull arbitrary host files into
        # the dataset, so those are rejected.
        root = os.path.abspath(path)
        out = []
        for p in files.split(","):
            if not p:
                continue
            if os.path.isabs(p):
                raise ValueError(f"pinned file {p!r} is absolute — paths must be relative to {root}")
            resolved = os.path.abspath(os.path.join(root, p))
            if os.path.commonpath([root, resolved]) != root:
                raise ValueError(f"pinned file {p!r} escapes the dataset root {root}")
            out.append(resolved)
        missing = [p for p in out if not os.path.isfile(p)]
        if missing:
            raise FileNotFoundError(f"pinned files do not exist: {missing[:5]}")
        return sorted(out)
    if os.path.isfile(path):
        return [path]
    if os.path.isdir(path):
        files = dataset_log.current_files(path)
        if not files:
            raise FileNotFoundError(f"no *.scbf files under directory {path}")
        return files
    files = sorted(_glob.glob(path))
    if not files:
        raise FileNotFoundError(f"no SCBF files match {path}")
    return files


def _partition_spec(root: str, file_path: str) -> "OrderedDict[str, str]":
    """Hive-style partition values encoded in the directory path between the
    dataset root and the file: ``root/region=EU/year=2024/part-x.scbf`` →
    ``{region: EU, year: 2024}`` (values URL-unquoted)."""
    from collections import OrderedDict
    from urllib.parse import unquote

    spec: "OrderedDict[str, str]" = OrderedDict()
    if not os.path.isdir(root):
        return spec
    rel = os.path.relpath(os.path.dirname(os.path.abspath(file_path)), os.path.abspath(root))
    if rel == ".":
        return spec
    for comp in rel.split(os.sep):
        if "=" not in comp:
            raise codec.ScbfError(
                f"{file_path}: directory component {comp!r} under dataset root is not "
                "hive-style 'key=value' — mixed layouts are not supported"
            )
        k, _, v = comp.partition("=")
        spec[k] = unquote(v)
    return spec


def _dataset_layout(path: str, files: Sequence[str]):
    """(partition keys, per-key python type, per-file typed values) of the
    dataset at ``path``, for ``files`` as one listing of it returned.

    Partition keys must be identical (same names, same order) for every file.
    A key is typed int when every file's value parses as an int, else str —
    the same inference Spark applies to parquet partition directories."""
    raw_specs = [_partition_spec(path, f) for f in files]
    keys = list(raw_specs[0].keys()) if raw_specs else []
    for f, s in zip(files, raw_specs):
        if list(s.keys()) != keys:
            raise codec.ScbfError(
                f"inconsistent partition directories: {f} has keys {list(s.keys())}, "
                f"expected {keys}"
            )
    # Strict digit check: bare int() also accepts '1_0', ' 7', '+5' and
    # non-ASCII digits, which would corrupt string partition values on read
    # (int('1_0') == 10). Mirror Spark's parquet inference: optional sign +
    # ASCII digits only.
    _int_re = re.compile(r"^-?[0-9]+$")
    key_types = {}
    for k in keys:
        if all(_int_re.match(s[k]) for s in raw_specs):
            key_types[k] = int
        else:
            key_types[k] = str
    typed = [
        {k: key_types[k](s[k]) for k in keys}
        for s in raw_specs
    ]
    return keys, key_types, dict(zip(files, typed))


def _dir_stats(values: dict) -> list:
    """A file's hive directory values as constant column stats (min = max =
    value, no nulls), so the footer pruning rule (``codec_v2._stats_may_match``)
    also prunes whole directories, without any file I/O."""
    return [{"name": k, "null_count": 0, "stats": {"min": v, "max": v}} for k, v in values.items()]


def _file_fields(path: str) -> List[StructField]:
    """A file's columns as Spark fields. Every field is nullable, even when
    this file has no nulls: a sibling file may carry nulls in the same column,
    and a nullable=False schema would make Spark's Arrow accessors crash on
    them. This mirrors Spark's own Parquet behavior (dataset schemas are
    always nullable)."""
    with SCBFReader(path) as h:
        return [StructField(c["name"], SPARK_TYPES[c["type"]], True) for c in h.meta["columns"]]


#: Spark's ``spark.sql.files.maxPartitionBytes`` default: a scan plans at
#: least one partition per this many stored bytes, whatever its parallelism
MAX_PARTITION_BYTES = 128 * 1024 * 1024


class ScbfPartition(InputPartition):
    """One read task: a contiguous run of planned units in listing order, as
    ``(file path, row-group indices or None for the whole file, hive
    values)`` entries. Adjacent units of one file share an entry, so the task
    opens and parses each file once."""

    def __init__(self, entries: list):
        self.entries = entries

    @property
    def file_path(self) -> str:
        """The first entry's file; ``""`` for the empty schema carrier."""
        return self.entries[0][0] if self.entries else ""


def _group_bytes(group: dict) -> int:
    """Stored bytes of one row group's blocks, from the footer."""
    return sum(ref["comp"] for c in group["columns"] for ref in c["blocks"].values())


def _cuts(sizes: Sequence[int], n: int) -> List[int]:
    """End indices of ``n`` non-empty contiguous runs of ``sizes`` whose
    sums are about equal: each cut is the unit boundary nearest to its share
    of the total (moved only where a run would be empty), so no run is off
    its share by more than the largest unit."""
    prefix = [0, *itertools.accumulate(sizes)]
    ends, lo = [], 1
    for k in range(1, n):
        target = prefix[-1] * k / n
        j = bisect.bisect_left(prefix, target)
        if j > 0 and target - prefix[j - 1] <= prefix[j] - target:
            j -= 1
        j = max(lo, min(j, len(sizes) - (n - k)))
        ends.append(j)
        lo = j + 1
    return ends + [len(sizes)]


def _plan(files: Sequence[str], specs: dict, filters, parallelism: int) -> List[ScbfPartition]:
    """Pack ``files`` (in listing order) into about ``parallelism`` read
    tasks of about equal stored bytes, dropping what ``filters`` prove
    cannot match.

    A unit is a whole file, or one surviving row group of a grouped file
    bigger than its share of the bytes (so one big file still scans in
    parallel). Only those files, and every file of a filtered plan, read a
    footer here; an unfiltered scan of small files costs one ``stat()`` per
    file. Units are cut into ``min(units, max(parallelism, bytes / 128
    MiB))`` contiguous runs, so row order and clustering stay those of the
    listing."""
    # Directory pruning first (cheapest: no file I/O at all).
    candidates = [p for p in files if codec_v2._stats_may_match(_dir_stats(specs[p]), 1, filters)]
    sizes = {p: os.path.getsize(p) for p in candidates}
    share = sum(sizes.values()) / parallelism

    def units_of(p: str) -> list:
        big = sizes[p] > share
        if not (filters or big):
            return [(p, None, sizes[p])]
        with SCBFReader(p) as h:
            if big and len(h.groups) > 1:
                return [
                    (p, i, _group_bytes(g))
                    for i, g in enumerate(h.groups)
                    if h.may_match(filters, i)
                ]
            return [(p, None, sizes[p])] if h.may_match(filters) else []

    # Footer reads are I/O-bound and independent — fetch them with a thread
    # pool, the way Parquet parallelizes driver-side footer reads. Serial, a
    # filtered plan over 100k files is tens of seconds of planning; threaded
    # it's bounded by storage round-trips / 16.
    if len(candidates) > 1:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=min(16, len(candidates))) as pool:
            units = [u for us in pool.map(units_of, candidates) for u in us]
    else:
        units = [u for p in candidates for u in units_of(p)]
    if not units:
        # An all-pruned scan still needs one (empty) partition so the
        # negotiated schema flows through.
        return [ScbfPartition([])]
    nbytes = [b for _p, _g, b in units]
    n = min(len(units), max(parallelism, -(-sum(nbytes) // MAX_PARTITION_BYTES)))
    parts, start = [], 0
    for end in _cuts(nbytes, n):
        entries: list = []
        for p, g, _b in units[start:end]:
            if entries and entries[-1][0] == p:
                entries[-1][1].append(g)
            else:
                entries.append((p, None if g is None else [g], specs[p]))
        parts.append(ScbfPartition(entries))
        start = end
    return parts


class ScbfReader(DataSourceReader):
    """Pruned Arrow-batch reads over byte-balanced input partitions: the
    planned files (and the row groups of a file bigger than its share) are
    packed into about ``parallelism`` contiguous runs (``_plan``), so a scan
    runs one wave of tasks and keeps the listing's row order.

    **Filter-pushdown skipping**: ``pushFilters`` records Spark's pushed
    predicates, and ``partitions()`` drops every hive directory, file and
    split row group that the one pruning rule (``codec_v2._stats_may_match``,
    via ``SCBFReader.may_match``) proves cannot match; ``read()`` skips row
    groups the same way. Files without stats (v1) are never skipped. All
    filters are returned to Spark (we skip whole files and groups, Spark
    still filters rows), so semantics never depend on the stats."""

    def __init__(self, schema: StructType, options, parallelism: int):
        self.schema = schema
        self.path = options.get("path")
        if self.path is None:
            raise ValueError("scbf read requires a path: .load('/path/to/data')")
        # ``read()`` must yield exactly the schema negotiated by
        # ``DataSource.schema()`` (Spark enforces arity) — the ``columns``
        # projection option is therefore applied in ``schema()``, and here we
        # simply read whatever columns that schema carries.
        self.verify_crc = options.get("verify_crc", "true").lower() != "false"
        self.file_skipping = options.get("file_skipping", "true").lower() != "false"
        self.parallelism = parallelism
        self.snapshot = options.get("snapshot")
        self.files_opt = options.get("files")
        self._filters: List = []

    def pushFilters(self, filters):
        self._filters = list(filters)
        return filters  # Spark re-applies everything; stats only skip files

    def partitions(self) -> Sequence[InputPartition]:
        # Lifecycle note: Spark reuses the planner's Python worker process,
        # but every planning cycle unpickles a fresh reader in it
        # (pushFilters → partitions in one shot), so self._filters is
        # always this plan's filters. HOWEVER, the JVM's
        # PythonDataSourceV2 caches the resulting readInfo per relation: a
        # later FILTERLESS query on the same DataFrame object reuses the
        # previous query's pruned partition list (upstream limitation of
        # Python-data-source pushdown, pinned in
        # tests/test_datasource.py::test_stale_scan_reuse_upstream_behavior).
        # Use a fresh spark.read per differently-filtered query, or disable
        # skipping with .option("file_skipping", "false").
        files = _list_scbf_files(self.path, self.snapshot, self.files_opt)
        _keys, _types, specs = _dataset_layout(self.path, files)
        return _plan(files, specs, self._filters if self.file_skipping else [], self.parallelism)

    def read(self, partition: ScbfPartition):
        # Same filters that pruned whole files also prune row GROUPS inside
        # each surviving file (SCBFReader.to_arrow skips groups whose
        # stats/blooms prove no match — Parquet row-group pruning).
        yield from _read_partition(
            partition,
            self.schema,
            self.verify_crc,
            self._filters if self.file_skipping else (),
        )


def _merged_schema(files: Sequence[str]) -> StructType:
    """Union of all files' schemas in first-seen column order, every field
    nullable (files that predate a column back-fill nulls on read). Same-name
    fields must agree on type — widening casts are the caller's job."""
    fields: dict[str, StructField] = {}
    for p in files:
        for f in _file_fields(p):
            prev = fields.get(f.name)
            if prev is None:
                fields[f.name] = StructField(f.name, f.dataType, nullable=True)
            elif prev.dataType != f.dataType:
                raise codec.ScbfError(
                    f"merge_schemas type conflict on column {f.name!r}: "
                    f"{prev.dataType} vs {f.dataType} in {p}"
                )
    return StructType(list(fields.values()))


def _read_partition(partition: ScbfPartition, schema: StructType, verify_crc: bool, filters=()):
    """Decode a partition's units in order to Arrow batches, one unit at a
    time (a task never holds a table spanning units), attaching directory-
    encoded partition columns as constants and back-filling typed nulls for
    columns a file predates (schema evolution under merge_schemas). Shared
    by the batch and streaming readers."""
    for path, groups, part_values in partition.entries:
        with SCBFReader(path) as h:
            for unit in [None] if groups is None else [[g] for g in groups]:
                table = _unit_table(h, unit, part_values, schema, verify_crc, filters)
                yield from table.to_batches(max_chunksize=1 << 16)


def _unit_table(h: SCBFReader, groups, part_values: dict, schema: StructType, verify_crc: bool, filters):
    """One unit (row groups ``groups`` of ``h``, None = the whole file) in
    the negotiated column order."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    columns = schema.fieldNames()
    avail = set(h.list_columns())
    present = [c for c in columns if c in avail and c not in part_values]
    if present:
        table = h.to_arrow(present, groups, filters, verify_crc)
        n = table.num_rows
    else:
        # No data blocks needed (partition-only / all-evolved projection):
        # just the unit's row count from the footer already in hand.
        n = sum(h.groups[i]["rows"] for i in (range(len(h.groups)) if groups is None else groups))
    if present == columns:
        return table
    # Assemble in negotiated column order: file data, constant partition
    # values, and typed nulls for evolved columns this file predates.
    arrays = []
    for f in schema.fields:
        c = f.name
        if c in part_values:
            v = part_values[c]
            typ = pa.int64() if isinstance(v, int) else pa.string()
            # constant column without an n-element Python list round-trip
            arrays.append(pa.repeat(pa.scalar(v, type=typ), n))
        elif c in avail:
            arrays.append(table.column(c))
        else:
            arrays.append(pa.nulls(n, to_arrow_type(f.dataType)))
    return pa.table(dict(zip(columns, arrays)))


@dataclass
class ScbfCommitMessage(WriterCommitMessage):
    # (tmp, final) per file this task wrote — one pair normally, one pair per
    # partition value combo under partition_by.
    files: tuple = ()
    rows: int = 0


class ScbfWriter(DataSourceArrowWriter):
    """One SCBF file per Spark partition. Tasks write hidden ``.tmp-*``
    files; ``commit`` renames them to ``part-*`` names beside the data and
    publishes them in one dataset-log version, which on overwrite also
    removes every current file. Files are unlinked only after that version
    is published, so readers see the old or the new file set, and aborted
    tasks leave nothing visible. Single-file reference-compat output =
    ``df.coalesce(1)`` first."""

    def __init__(self, schema: StructType, options, overwrite: bool):
        self.schema = schema
        self.path = options.get("path")
        if self.path is None:
            raise ValueError("scbf write requires a path: .save('/path/to/dir')")
        self.level = int(options.get("compression_level", codec.DEFAULT_ZLIB_LEVEL))
        self.version = int(options.get("version", "1"))
        if self.version not in _WRITABLE:
            raise ValueError(f"unknown scbf version {self.version} (1 or 2)")
        bloom_opt = options.get("bloom_filters", "")
        self.bloom_columns: List[str] = [c.strip() for c in bloom_opt.split(",") if c.strip()]
        self.max_records_per_file = int(options.get("max_records_per_file", "0"))
        if self.max_records_per_file < 0:
            raise ValueError("max_records_per_file must be >= 0 (0 = unlimited)")
        self.rows_per_group = int(options.get("rows_per_group", "0")) or None
        self.codec = options.get("codec", "zlib")
        for opt, used in (
            ("bloom_filters", self.bloom_columns),
            ("rows_per_group", self.rows_per_group is not None),
            ("codec", self.codec != "zlib"),
        ):
            if used and self.version != 2:
                raise ValueError(f"{opt} requires .option('version', '2')")
        if self.rows_per_group is not None and self.rows_per_group < 0:
            raise ValueError("rows_per_group must be >= 0 (0 = one group per file)")
        if self.codec not in codec_v2.BLOCK_CODECS:
            raise ValueError(f"unknown codec {self.codec!r}; have {sorted(codec_v2.BLOCK_CODECS)}")
        self.overwrite = overwrite
        part_opt = options.get("partition_by", "")
        self.partition_by: List[str] = [c.strip() for c in part_opt.split(",") if c.strip()]
        by_name = {f.name: f for f in schema.fields}
        for c in self.partition_by:
            if c not in by_name:
                raise ValueError(f"partition_by column {c!r} not in schema")
            if not isinstance(by_name[c].dataType, (IntegerType, LongType, StringType)):
                raise ValueError(
                    f"partition_by column {c!r} must be int/long/string "
                    f"(got {by_name[c].dataType.simpleString()})"
                )
        data_fields = [f for f in schema.fields if f.name not in self.partition_by]
        if not data_fields:
            raise ValueError("partition_by cannot cover every column")
        data_by_name = {f.name: f for f in data_fields}
        for c in self.bloom_columns:
            if c not in data_by_name:
                raise ValueError(f"bloom_filters column {c!r} not in data columns")
            if not isinstance(data_by_name[c].dataType, _spark_classes(codec_v2.BLOOM_TYPES)):
                raise ValueError(
                    f"bloom_filters column {c!r} must be {'/'.join(codec_v2.BLOOM_TYPES)} "
                    f"(got {data_by_name[c].dataType.simpleString()})"
                )
        types = _WRITABLE[self.version]
        writable = _spark_classes(types)
        for f in data_fields:
            if not isinstance(f.dataType, writable):
                raise ValueError(
                    f"column {f.name!r}: {f.dataType.simpleString()} is not representable "
                    f"in SCBF v{self.version} ({'/'.join(types)}) — cast first"
                )

    def _write_one(self, directory: str, table) -> tuple:
        os.makedirs(directory, exist_ok=True)
        file_id = uuid.uuid4().hex[:12]
        tmp = os.path.join(directory, f".tmp-{file_id}.scbf")
        final = os.path.join(directory, f"part-{file_id}.scbf")
        if self.version == 2:
            codec_v2.write_arrow_table(
                tmp, table, self.level, bloom_columns=self.bloom_columns, codec=self.codec,
                rows_per_group=self.rows_per_group,
            )
        else:
            codec.write_arrow_table(tmp, table, self.level)
        return (tmp, final)

    def _write_sized(self, directory: str, table) -> list:
        """One file per ``max_records_per_file`` slice (zero-copy Arrow
        slices), or a single file when unset — the parquet-writer knob that
        keeps file sizes bounded no matter how large a task's partition is."""
        if not self.max_records_per_file or table.num_rows <= self.max_records_per_file:
            return [self._write_one(directory, table)]
        step = self.max_records_per_file
        return [
            self._write_one(directory, table.slice(off, step))
            for off in range(0, table.num_rows, step)
        ]

    def write(self, iterator: Iterator) -> ScbfCommitMessage:
        import pyarrow as pa
        import pyarrow.compute as pc

        batches = list(iterator)
        if not batches:
            return ScbfCommitMessage(files=(), rows=0)
        table = pa.Table.from_batches(batches)
        if not self.partition_by:
            return ScbfCommitMessage(
                files=tuple(self._write_sized(self.path, table)), rows=table.num_rows
            )

        # Hive-layout write: one file per distinct partition-value combo seen
        # by this task, under k=v directories; partition columns live in the
        # path, not the file (so a reader reconstructs them for free and
        # prunes directories without any I/O). Same layout contract as
        # df.write.partitionBy for parquet — at scale, repartition() by the
        # same keys first so each combo lands in few tasks.
        from urllib.parse import quote

        combos = table.select(self.partition_by).group_by(self.partition_by).aggregate([])
        files = []
        data_cols = [c for c in table.column_names if c not in self.partition_by]
        for i in range(combos.num_rows):
            vals = {k: combos.column(k)[i].as_py() for k in self.partition_by}
            if any(v is None for v in vals.values()):
                raise codec.ScbfError(
                    "null partition value: hive directory layout cannot encode "
                    f"nulls (combo {vals})"
                )
            mask = None
            for k, v in vals.items():
                eq = pc.equal(table.column(k), pa.scalar(v, type=table.column(k).type))
                mask = eq if mask is None else pc.and_(mask, eq)
            sub = table.filter(mask).select(data_cols)
            directory = os.path.join(
                self.path, *[f"{k}={quote(str(v), safe='')}" for k, v in vals.items()]
            )
            files.extend(self._write_sized(directory, sub))
        return ScbfCommitMessage(files=tuple(files), rows=table.num_rows)

    def commit(self, messages):
        doomed = dataset_log.current_files(self.path) if self.overwrite else ()
        dataset_log.publish(self.path, _task_files(messages), doomed)

    def abort(self, messages):
        for tmp, _final in _task_files(messages):
            if os.path.exists(tmp):
                os.unlink(tmp)


def _task_files(messages) -> list:
    """Every (tmp, final) pair the job's tasks wrote."""
    return [pair for m in messages for pair in (m.files if m else ())]


class ScbfStreamReader(DataSourceStreamReader):
    """Structured Streaming source over an append-only SCBF directory.

    Offsets are positions in the file list sorted by **basename** (path as
    tiebreak): ``{"count": N, "last": <basename>}`` means the first N files
    in that order are processed. Basename order makes hive-partitioned
    output safe — the sink's ``part-b<batchId>-*`` names are monotonic
    across batches no matter which ``k=v`` directory a file lands in,
    whereas full-path order would interleave later batches into
    earlier-sorting directories. New files must sort after every processed
    file; a violation is detected via ``last`` and fails loudly rather than
    misreading. A microbatch's new files are packed into read tasks the way
    a batch scan packs them (``_plan``). The dataset must contain at least
    one file when the stream starts (schema comes from it)."""

    def __init__(self, schema: StructType, options, parallelism: int):
        self.path = options.get("path")
        if self.path is None:
            raise ValueError("scbf readStream requires a path: .load('/path/to/data')")
        self.schema = schema
        self.verify_crc = options.get("verify_crc", "true").lower() != "false"
        self.parallelism = parallelism

    def _files(self) -> List[str]:
        try:
            files = _list_scbf_files(self.path)
        except FileNotFoundError:
            return []
        return sorted(files, key=lambda p: (os.path.basename(p), p))

    def initialOffset(self) -> dict:
        return {"count": 0, "last": ""}

    def latestOffset(self) -> dict:
        files = self._files()
        return {"count": len(files), "last": os.path.basename(files[-1]) if files else ""}

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        # one listing per microbatch: partition values come from the same
        # file list as the offsets, so a commit in between cannot strip a
        # new file of its hive values
        files = self._files()
        lo, hi = start["count"], min(end["count"], len(files))
        if lo and (lo > len(files) or os.path.basename(files[lo - 1]) != start["last"]):
            raise codec.ScbfError(
                f"streaming offset desync at {self.path}: processed file "
                f"{start['last']!r} is no longer at sorted position {lo} — files "
                "were removed or a new file sorted into the processed prefix "
                "(streaming reads require append-only, monotonically-named files)"
            )
        _keys, _types, specs = _dataset_layout(self.path, files)
        return _plan(files[lo:hi], specs, [], self.parallelism)

    def read(self, partition: ScbfPartition):
        yield from _read_partition(partition, self.schema, self.verify_crc)

    def commit(self, end: dict) -> None:
        pass  # offsets are positional; nothing to clean up


class ScbfStreamWriter(DataSourceStreamArrowWriter):
    """Structured Streaming sink for SCBF: each microbatch's tasks write
    hidden tmp files (delegating to the batch writer, so compression/version/
    partition_by options all apply), and ``commit(batchId)`` renames them to
    ``part-b<batchId>-r<runId>-*`` names and publishes them in one
    dataset-log version, so a tailing ``readStream`` sees the whole batch or
    none of it. A Spark-level re-commit of the same batch within one query
    run removes that (batch, run)'s earlier files in the same version,
    making the commit idempotent. The run id scopes the removal: a NEW query
    writing into the same directory must never clobber a previous run's
    committed batch 0 (that would be silent data loss). The narrow
    trade-off: a checkpoint-recovered replay of a batch whose commit was
    published is a new run and leaves that batch's files as duplicates —
    eliminating that too requires recording batch ids in the log (future
    work, noted in README)."""

    def __init__(self, schema: StructType, options, overwrite: bool):
        if overwrite:
            raise ValueError(
                "scbf streaming sink supports outputMode('append') only — "
                "complete/truncate semantics cannot be expressed by an "
                "append-only file sink"
            )
        # Reuse the batch writer wholesale: same validation, same tmp-name
        # write path, same partition_by splitting.
        self._inner = ScbfWriter(schema, options, overwrite=False)
        self.path = self._inner.path
        self.run_id = uuid.uuid4().hex[:8]

    def write(self, iterator):
        return self._inner.write(iterator)

    def _batch_final(self, final: str, batch_id: int) -> str:
        d, base = os.path.split(final)
        return os.path.join(d, f"part-b{batch_id:06d}-r{self.run_id}-{base[len('part-'):]}")

    def commit(self, messages, batchId: int) -> None:
        prefix = f"part-b{batchId:06d}-r{self.run_id}-"
        dataset_log.publish(
            self.path,
            [(tmp, self._batch_final(final, batchId)) for tmp, final in _task_files(messages)],
            [f for f in dataset_log.current_files(self.path) if os.path.basename(f).startswith(prefix)],
        )

    def abort(self, messages, batchId: int) -> None:
        self._inner.abort(messages)


class ScbfDataSource(DataSource):
    """Python DataSource V2 for format ``"scbf"``.

    Read options: ``columns`` (comma-separated explicit projection),
    ``verify_crc`` (v2, default true), ``snapshot`` (id or tag — time-travel
    read pinned to a manifest from ``operators/snapshot.py``), ``files``
    (comma-separated paths relative to the root — pin the file set; not with
    ``snapshot``), ``merge_schemas`` (default false: true reads the union of
    every file's schema, back-filling nulls for columns a file predates),
    ``file_skipping`` (default true: false ignores pushed filters, so no
    directory, file or row group is skipped). A scan plans about
    ``parallelism`` byte-balanced input partitions: the session's
    ``defaultParallelism`` when ``register`` registered the source, else the
    cores this process may run on.
    Write options: ``compression_level`` (zlib 0-9, default 6), ``version``
    (1 or 2), ``partition_by`` (comma-separated columns → hive ``k=v``
    directory layout; readers reconstruct the columns from the path and
    prune whole directories on pushed filters without touching a file),
    ``bloom_filters`` (v2, comma-separated int/string columns → per-file
    Bloom filters in the footer; ``=``/``IN`` predicates then skip files
    whose key range overlaps but which provably lack the value),
    ``codec`` (v2 block compression: zlib default, bz2/lzma for colder
    data & better ratios, none for decode-CPU-bound hot data),
    ``max_records_per_file`` (split each task's output into bounded-size
    files — the parquet-writer knob; 0/unset = one file per partition).
    """

    parallelism = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count() or 1

    @classmethod
    def name(cls) -> str:
        return "scbf"

    def schema(self) -> StructType:
        path = self.options.get("path")
        if path is None:
            raise ValueError("scbf requires a path")
        files = _list_scbf_files(path, self.options.get("snapshot"), self.options.get("files"))
        keys, key_types, _specs = _dataset_layout(path, files)
        if self.options.get("merge_schemas", "false").lower() == "true":
            # Schema evolution: union of every file's schema, first-seen
            # column order, all nullable (older files back-fill nulls at
            # read). Same contract as parquet's mergeSchema; off by default
            # because it reads every footer at planning time.
            full = _merged_schema(files)
        else:
            full = StructType(_file_fields(files[0]))
        if keys:
            # Hive-partitioned dataset: directory-encoded columns come after
            # the file columns, like Spark's parquet source.
            full = StructType(
                list(full.fields)
                + [
                    StructField(k, LongType() if key_types[k] is int else StringType(), True)
                    for k in keys
                ]
            )
        cols_opt = self.options.get("columns")
        if not cols_opt:
            return full
        # Explicit storage-level projection: pruning the *negotiated* schema is
        # what keeps unrequested column blocks untouched on disk (the Python
        # DSv2 API has no SupportsPushDownRequiredColumns hook yet, so Catalyst
        # prunes above the scan; this option prunes *at* the scan).
        by_name = {f.name: f for f in full.fields}
        missing = [c.strip() for c in cols_opt.split(",") if c.strip() not in by_name]
        if missing:
            raise ValueError(f"columns option names unknown columns {missing}")
        return StructType([by_name[c.strip()] for c in cols_opt.split(",")])

    def reader(self, schema: StructType) -> ScbfReader:
        return ScbfReader(schema, self.options, self.parallelism)

    def writer(self, schema: StructType, overwrite: bool) -> ScbfWriter:
        return ScbfWriter(schema, self.options, overwrite)

    def streamWriter(self, schema: StructType, overwrite: bool) -> ScbfStreamWriter:
        return ScbfStreamWriter(schema, self.options, overwrite)

    def streamReader(self, schema: StructType) -> ScbfStreamReader:
        return ScbfStreamReader(schema, self.options, self.parallelism)


def register(spark) -> None:
    """Idempotently register the scbf format on a SparkSession, sized to its
    ``defaultParallelism``. The registered class is a subclass built here,
    so it is pickled by value and carries that number to the planner and
    the tasks."""
    from ..shipping import ensure_worker_imports

    ensure_worker_imports(spark)
    try:
        # Required for pushFilters() to reach the reader (v2 stats skipping).
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    except Exception:
        pass  # static conf in some deployments; reader then sees no filters

    class SessionScbfDataSource(ScbfDataSource):
        parallelism = spark.sparkContext.defaultParallelism

    spark.dataSource.register(SessionScbfDataSource)

"""The class-shaped reader API the reference's README promises but never
ships (reference README.md:67-89 documents an ``SCBFReader`` with
``list_columns`` / ``read_all`` / ``read_columns``; reference reader.py only
exposes module functions — verified in SURVEY.md §3/EP3). This provides that
exact API, plus Spark interop.

``SCBFReader`` is also the engine's one handle on an SCBF file: the Spark
DataSource plans and reads every file through it, so per-file work (open,
footer parse, Bloom decode) happens once and no read path outside this
class branches on the file version. Single-file operations go straight through the
pure-Python codec (no JVM startup for a metadata peek);
``to_spark``/``SCBFDataset`` route through the DataSource V2 for distributed
work on file directories."""

from __future__ import annotations

from typing import Any, Dict, List, Optional, Sequence, Tuple

from . import codec, codec_v2


def _to_pylist(col) -> list:
    """An Arrow column's values as Python objects. NumPy's ``tolist`` builds
    them about 10× faster than Arrow's ``to_pylist``, but would turn the
    nulls of an int column into NaN, so only null-free columns take it."""
    return col.to_pylist() if col.null_count else col.to_numpy().tolist()


class SCBFReader:
    """The one handle on a single SCBF file, v1 or v2 — the Spark DataSource,
    the MERGE/DELETE and compaction operators and the CLI all read through it.

    Opening reads the magic and the footer (v2) or header (v1) once and keeps
    the file open for block reads; a v1 header comes back in the v2 footer
    shape (``meta``, see ``codec.read_meta``), so the schema, the row count,
    the ``groups`` view, pruning and the block decoder are the same for both
    versions (v2 files come back with their richer types and nulls as
    ``None``). Use it as a context manager, or ``close()``.

    >>> with SCBFReader("examples/sample.scbf") as r:
    ...     r.list_columns()
    ['id', 'name', 'score']
    """

    def __init__(self, path: str):
        self.path = path
        self._f = open(path, "rb")
        try:
            magic = self._f.read(8)
            if magic == codec_v2.MAGIC_V2:
                self.version, read_meta = 2, codec_v2.read_meta
            elif magic == codec.MAGIC:
                self.version, read_meta = 1, codec.read_meta
            else:
                raise codec.ScbfError(f"{path}: not an SCBF file")
            self.meta = read_meta(self._f)
        except BaseException:
            self._f.close()
            raise

    def close(self) -> None:
        self._f.close()

    def __enter__(self) -> "SCBFReader":
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    # -- reference-README surface ------------------------------------------
    def list_columns(self) -> List[str]:
        return [c["name"] for c in self.meta["columns"]]

    def schema(self) -> Dict[str, str]:
        return {c["name"]: c["type"] for c in self.meta["columns"]}

    @property
    def num_rows(self) -> int:
        return self.meta["rows"]

    def read_all(self) -> Tuple[List[str], List[List]]:
        t = self.to_arrow()
        cols = [_to_pylist(c) for c in t.columns]
        rows = [list(r) for r in zip(*cols)] if cols and t.num_rows else []
        return list(t.column_names), rows

    def read_columns(self, columns: Sequence[str]) -> Dict[str, list]:
        # duplicate request names collapse dict-style, like the reference
        names = list(dict.fromkeys(columns))
        t = self.to_arrow(names)
        return {n: _to_pylist(t.column(n)) for n in names}

    # -- engine extensions --------------------------------------------------
    @property
    def groups(self) -> List[dict]:
        """Row groups as ``{"rows", "columns"}`` block sets; an ungrouped v2
        file and every v1 file are the single group 0."""
        return self.meta.get("row_groups") or [self.meta]

    def may_match(self, filters: Sequence[Any], group: Optional[int] = None) -> bool:
        """False only when the footer stats prove that no row of the file (or
        of row group ``group``) matches the pushed ``filters``
        (pyspark.sql.datasource Filters). A v1 file stores no stats, so only
        its lack of nulls proves anything (``IsNull`` never matches). Bloom
        filters decode lazily, once per (group, column)."""
        if not filters:
            return True
        if group is None:
            return codec_v2.file_may_match(self.meta, filters)
        g = self.groups[group]
        return codec_v2._stats_may_match(g["columns"], g["rows"], filters)

    def to_arrow(
        self,
        columns: Sequence[str] | None = None,
        groups: Sequence[int] | None = None,
        filters: Sequence[Any] | None = None,
        verify_crc: bool = True,
    ):
        """Read ``columns`` (all by default) of row groups ``groups`` (all by
        default) as a ``pyarrow.Table``, skipping every group ``filters``
        prove cannot match. The result is a superset of the matching rows."""
        if filters:
            want = range(len(self.groups)) if groups is None else groups
            groups = [i for i in want if self.may_match(filters, i)]
        return codec_v2.read_arrow_table(
            self._f, columns, verify_crc=verify_crc, group_indices=groups, meta=self.meta
        )

    def to_pandas(self, columns: Sequence[str] | None = None):
        return self.to_arrow(columns).to_pandas()

    def to_spark(self, spark, columns: Sequence[str] | None = None):
        return SCBFDataset(self.path).to_spark(spark, columns)


class SCBFDataset:
    """A directory of per-partition SCBF files (the distributed layout the
    DSv2 writer emits). Thin convenience over ``spark.read.format('scbf')``."""

    def __init__(self, path: str):
        self.path = path

    def to_spark(self, spark, columns: Sequence[str] | None = None):
        from ..sources.scbf_datasource import register

        register(spark)
        reader = spark.read.format("scbf")
        if columns:
            reader = reader.option("columns", ",".join(columns))
        return reader.load(self.path)

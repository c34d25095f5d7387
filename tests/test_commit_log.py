"""The dataset log is the one commit protocol: every path that changes a
dataset's file set is crash-injected at each of its filesystem steps, and a
fresh load() must then return exactly the old or exactly the new rows.
Conflicting commits fail loudly, MERGE/DELETE leave untouched files where
they are, and vacuum deletes only files the log does not name."""

import os
import shutil
from contextlib import contextmanager

import pyarrow as pa
import pytest
from pyspark.sql.pandas.types import from_arrow_schema

from custom_columnar_format_spark.operators import compact, merge, snapshot, vacuum
from custom_columnar_format_spark.scbf import codec_v2
from custom_columnar_format_spark.sources import dataset_log
from custom_columnar_format_spark.sources import scbf_datasource as sds

FS_STEPS = ("rename", "replace", "link", "unlink", "remove")


@pytest.fixture(autouse=True)
def _register_scbf(spark):
    sds.register(spark)


def _table(lo, hi, tag="v", partitioned=False):
    cols = {
        "k": pa.array(range(lo, hi), pa.int32()),
        "s": [f"{tag}{i}" for i in range(lo, hi)],
    }
    if partitioned:
        cols["flag"] = ["ANR"[i % 3] for i in range(lo, hi)]
    return pa.table(cols)


def _rows(*tables):
    return sorted(row for t in tables for row in zip(*t.to_pydict().values()))


def _write(path, table, overwrite=True, slices=4, **options):
    """A ``df.write.format("scbf")`` job run in this process: one task per
    slice, then the job commit."""
    w = sds.ScbfWriter(
        from_arrow_schema(table.schema), dict(options, path=path, version="2"), overwrite
    )
    w.commit([w.write(iter(b)) for b in _slices(table, slices)])


def _slices(table, n):
    step = -(-table.num_rows // n)
    return [table.slice(off, step).to_batches() for off in range(0, table.num_rows, step)]


def _load(spark, path):
    try:
        return sorted(tuple(r) for r in spark.read.format("scbf").load(path).collect())
    except Exception as e:  # a dataset with no visible file
        if "no *.scbf files" in str(e):
            return []
        raise


@contextmanager
def _fs_steps(root, fail_at=None):
    """Record every rename/replace/link/unlink/remove of a path under
    ``root`` made by this process, and raise at the ``fail_at``-th."""
    steps = []

    def wrap(name, real):
        def step(src, *args, **kwargs):
            if str(src).startswith(root):
                steps.append((name, os.path.relpath(src, root)))
                if len(steps) == fail_at:
                    raise OSError(f"injected crash at {name} {src}")
            return real(src, *args, **kwargs)

        return step

    with pytest.MonkeyPatch.context() as mp:
        for name in FS_STEPS:
            mp.setattr(os, name, wrap(name, getattr(os, name)))
        yield steps


def _crash_every_step(spark, path, op, want):
    """Run ``op`` once to count its filesystem steps, then once per step
    with that step failing, each time from the same starting dataset."""
    root = os.path.dirname(path)
    pristine = os.path.join(root, "pristine")
    shutil.copytree(path, pristine, symlinks=True)

    def reset():
        shutil.rmtree(path)
        shutil.copytree(pristine, path, symlinks=True)

    old = _load(spark, path)
    with _fs_steps(root) as steps:
        op()
    assert _load(spark, path) == want
    assert steps
    for k in range(1, len(steps) + 1):
        reset()
        with _fs_steps(root, fail_at=k), pytest.raises(OSError, match="injected"):
            op()
        got = _load(spark, path)
        assert got == old or got == want, f"crash at step {k} {steps[k - 1]} left a mix"
    return steps


# -- crash injection, one test per path ---------------------------------------


def test_crash_overwrite_logged_dataset(spark, tmp_path):
    path = str(tmp_path / "ds")
    _write(path, _table(0, 200))
    new = _table(500, 620, "w")
    steps = _crash_every_step(spark, path, lambda: _write(path, new), _rows(new))
    assert [n for n, _ in steps].count("unlink") >= 4  # the old files, after the commit


def test_crash_overwrite_logless_dataset(spark, tmp_path):
    path = str(tmp_path / "ds")
    os.makedirs(path)
    for i in range(3):  # codec-written: no log, listed by glob
        codec_v2.write_arrow_table(os.path.join(path, f"part-{i:05d}.scbf"), _table(i * 10, i * 10 + 10))
    new = _table(500, 620, "w")
    _crash_every_step(spark, path, lambda: _write(path, new), _rows(new))
    assert sorted(os.listdir(os.path.join(path, dataset_log.LOG_DIR))) == ["0.json", "1.json"]


def test_crash_append(spark, tmp_path):
    path = str(tmp_path / "ds")
    base, more = _table(0, 200), _table(200, 260)
    _write(path, base)
    _crash_every_step(spark, path, lambda: _write(path, more, overwrite=False), _rows(base, more))


def _updated(table, keys, value):
    return sorted((k, value if k in keys else s) for k, s in _rows(table))


def test_crash_merge_into_in_place(spark, tmp_path):
    path = str(tmp_path / "ds")
    base = _table(0, 200)
    _write(path, base)
    source = spark.createDataFrame([(10, "new"), (11, "new")], "k int, s string")
    _crash_every_step(
        spark, path, lambda: merge.merge_into(spark, path, source, "k"), _updated(base, {10, 11}, "new")
    )


def test_crash_delete_keys_in_place(spark, tmp_path):
    path = str(tmp_path / "ds")
    base = _table(0, 200)
    _write(path, base)
    doomed = spark.createDataFrame([(60,), (61,)], "k int")
    want = [r for r in _rows(base) if r[0] not in (60, 61)]
    _crash_every_step(spark, path, lambda: merge.delete_keys(spark, path, doomed, "k"), want)


def test_crash_compact_hive_dataset(spark, tmp_path):
    path = str(tmp_path / "ds")
    base = _table(0, 300, partitioned=True)
    _write(path, base, slices=2, partition_by="flag")
    assert len(dataset_log.current_files(path)) == 6  # 2 tasks x 3 directories
    _crash_every_step(spark, path, lambda: compact.compact(spark, path, target_files=1), _rows(base))
    assert len(dataset_log.current_files(path)) == 3


def test_crash_rollback(spark, tmp_path):
    path = str(tmp_path / "ds")
    base = _table(0, 200)
    _write(path, base)
    snapshot.create_snapshot(path)
    _write(path, _table(200, 260), overwrite=False)
    _crash_every_step(spark, path, lambda: snapshot.rollback(path, 1), _rows(base))


def test_crash_stream_sink_recommit(spark, tmp_path):
    """A re-commit of a batch swaps that batch's files in one version."""
    path = str(tmp_path / "ds")
    first, second = _table(0, 100), _table(100, 150, "w")
    schema = from_arrow_schema(first.schema)
    w = sds.ScbfStreamWriter(schema, {"path": path, "version": "2"}, overwrite=False)
    w.commit([w.write(iter(b)) for b in _slices(first, 2)], 0)
    _crash_every_step(
        spark, path, lambda: w.commit([w.write(iter(b)) for b in _slices(second, 2)], 0), _rows(second)
    )


# -- conflicts ------------------------------------------------------------------


def _stale_first_read(monkeypatch, base):
    """Make the next commit read ``base`` once, as a writer that read the
    log before a concurrent commit would."""
    real = dataset_log._latest
    calls = []

    def latest(root):
        calls.append(root)
        return base if len(calls) == 1 else real(root)

    monkeypatch.setattr(dataset_log, "_latest", latest)
    return calls


def test_conflicting_removes_from_one_base_second_raises(tmp_path, monkeypatch):
    path = str(tmp_path / "ds")
    _write(path, _table(0, 200))
    base = dataset_log._latest(path)
    doomed = dataset_log.current_files(path)[0]
    dataset_log.commit(path, [], [doomed])
    calls = _stale_first_read(monkeypatch, base)
    with pytest.raises(dataset_log.CommitConflict, match="no longer holds"):
        dataset_log.commit(path, [], [doomed])
    assert len(calls) == 2  # the put-if-absent link failed, the re-read saw the removal


def test_two_appends_from_one_base_both_land(tmp_path, monkeypatch):
    path = str(tmp_path / "ds")
    _write(path, _table(0, 200))
    base = dataset_log._latest(path)
    a, b = os.path.join(path, "part-a.scbf"), os.path.join(path, "part-b.scbf")
    for p, lo in ((a, 300), (b, 400)):
        codec_v2.write_arrow_table(p, _table(lo, lo + 5))
    v1 = dataset_log.commit(path, [a], [])
    _stale_first_read(monkeypatch, base)
    v2 = dataset_log.commit(path, [b], [])
    assert v2 == v1 + 1 == base[0] + 2
    assert {a, b} <= set(dataset_log.current_files(path))
    assert len(dataset_log.current_files(path)) == len(base[1]) + 2


# -- MERGE/DELETE copy nothing they do not rewrite --------------------------------


def _inodes(path):
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, path)] = (os.stat(p).st_ino, fh.read())
    return out


def test_delete_keys_leaves_untouched_files_in_place(spark, tmp_path):
    path = str(tmp_path / "ds")
    _write(path, _table(0, 200))  # 4 files, key ranges 0-49, 50-99, ...
    before = _inodes(path)
    doomed = spark.createDataFrame([(60,), (61,)], "k int")
    stats = merge.delete_keys(spark, path, doomed, "k")
    assert (stats["files_rewritten"], stats["files_carried_over"]) == (1, 3)
    after = _inodes(path)
    kept = [p for p in before if p.endswith(".scbf") and p in after]
    assert len(kept) == 3
    for p in kept:
        assert after[p] == before[p]


def test_delete_keys_missing_every_file_writes_nothing(spark, tmp_path):
    path = str(tmp_path / "ds")
    _write(path, _table(0, 200))
    before = _inodes(path)
    doomed = spark.createDataFrame([(10_000,)], "k int")
    stats = merge.delete_keys(spark, path, doomed, "k")
    assert stats["files_rewritten"] == 0
    assert _inodes(path) == before  # no file and no log version


# -- vacuum on a logged dataset --------------------------------------------------


def test_vacuum_deletes_only_files_the_log_does_not_name(spark, tmp_path):
    path = str(tmp_path / "ds")
    base = _table(0, 200)
    _write(path, base)
    logged = dataset_log.current_files(path)

    # a job that renamed its file beside the data and died before its commit,
    # and one that died with its parts still in a hidden job directory
    w = sds.ScbfWriter(from_arrow_schema(base.schema), {"path": path}, overwrite=False)
    ((tmp, final),) = w.write(iter(_table(900, 950).to_batches())).files
    os.replace(tmp, final)
    job = os.path.join(path, ".job-dead")
    os.makedirs(job)
    codec_v2.write_arrow_table(os.path.join(job, "part-x.scbf"), _table(950, 960))
    assert _load(spark, path) == _rows(base)

    assert vacuum.vacuum(path, older_than_seconds=3600) == {"tmp_files": 0, "staging_dirs": 0}
    assert vacuum.vacuum(path, older_than_seconds=0) == {"tmp_files": 2, "staging_dirs": 0}
    assert not os.path.exists(final)
    assert not os.path.exists(os.path.join(job, "part-x.scbf"))
    assert all(os.path.exists(p) for p in logged)
    assert _load(spark, path) == _rows(base)


# -- the stream reader lists once per microbatch ----------------------------------


def test_stream_reader_lists_files_once_per_microbatch(tmp_path, monkeypatch):
    path = str(tmp_path / "ds")
    _write(path, _table(0, 90, partitioned=True), partition_by="flag")
    schema = sds.ScbfDataSource({"path": path}).schema()
    reader = sds.ScbfStreamReader(schema, {"path": path}, 4)
    end = reader.latestOffset()

    real = sds._list_scbf_files
    calls = []
    monkeypatch.setattr(sds, "_list_scbf_files", lambda *a, **k: calls.append(a) or real(*a, **k))
    parts = reader.partitions(reader.initialOffset(), end)
    assert len(calls) == 1
    assert len(parts) == 4
    entries = [e for p in parts for e in p.entries]
    assert len(entries) == 12
    assert all(values["flag"] in "ANR" for _path, _groups, values in entries)

"""Worker-side importability and dispatch cost for this package.

Anything cloudpickled to executor Python workers — the scbf DataSource
class, ``mapInPandas``/``applyInPandasWithState`` closures, pandas UDFs,
UDTFs — is pickled *by reference* to its defining module, so the worker
re-imports ``custom_columnar_format_spark``. That fails when the driver was
launched from a cwd where the package isn't on sys.path (the round driver
does exactly this). ``ensure_worker_imports`` ships the package as a zip via
``addPyFile`` — the standard mechanism, works identically on a real cluster
— so every closure-bearing operator is self-contained instead of depending
on whichever query happened to run first.

Spark reuses a Python worker process for dispatch after dispatch (schema,
pushdown/plan, read tasks, UDFs), and each dispatch starts with
``importlib.invalidate_caches()``. Before CPython 3.13 that makes every
``zipimporter`` re-parse its archive's whole central directory: 0.13–0.24 s
per dispatch for ``pyspark.zip`` and the spark-core jar on a 4-core box.
``cache_zip_directories``, run when the package is imported (so in every
worker that unpickles anything of it), re-reads an archive only when its
``stat`` changed.
"""

from __future__ import annotations

import os
import sys

_SHIPPED: set[str] = set()  # SparkContext application IDs already shipped to


def ensure_worker_imports(spark) -> None:
    """Idempotently make this package importable on executor workers."""
    try:
        sc = spark.sparkSession.sparkContext if hasattr(spark, "sparkSession") else spark.sparkContext
    except Exception:
        return
    app_id = sc.applicationId
    if app_id in _SHIPPED:
        return
    try:
        import shutil
        import tempfile

        pkg_dir = os.path.dirname(os.path.abspath(__file__))
        zip_base = os.path.join(
            tempfile.gettempdir(), f"scbf_pyfiles_{os.getpid()}", "custom_columnar_format_spark"
        )
        zip_path = zip_base + ".zip"
        if not os.path.exists(zip_path):
            os.makedirs(os.path.dirname(zip_base), exist_ok=True)
            shutil.make_archive(
                zip_base,
                "zip",
                root_dir=os.path.dirname(pkg_dir),
                base_dir=os.path.basename(pkg_dir),
            )
        sc.addPyFile(zip_path)
        _SHIPPED.add(app_id)
    except Exception:
        pass  # restricted env; worker import may still work via PYTHONPATH


def cache_zip_directories() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only when it changed.

    Stock CPython < 3.13 re-parses the archive's central directory on every
    call, once per zipimporter (one per package directory inside the zip).
    The replacement keeps ``(st_mtime_ns, st_size, st_ino)`` of each read and
    re-binds the cached directory while the archive's ``stat`` still matches,
    so a rewritten archive is re-read as before. Idempotent; does nothing on
    3.13+, whose ``invalidate_caches`` already re-reads lazily.
    """
    if sys.version_info >= (3, 13):
        return
    import zipimport

    stock = zipimport.zipimporter.invalidate_caches
    if getattr(stock, "_stat_checked", False):
        return
    read_at: dict[str, tuple[int, int, int]] = {}  # archive -> stat of its last read

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            return stock(self)
        key = (st.st_mtime_ns, st.st_size, st.st_ino)  # taken before the read it vouches for
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and read_at.get(self.archive) == key:
            self._files = files
            return
        stock(self)  # a failed read drops the cache entry, so the next call reads again
        read_at[self.archive] = key

    invalidate_caches._stat_checked = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches

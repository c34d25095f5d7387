"""``shipping.cache_zip_directories``: cheap ``importlib.invalidate_caches()``.

Spark runs ``importlib.invalidate_caches()`` at the start of every Python
worker dispatch. Before CPython 3.13 each ``zipimporter`` on the worker then
re-parses its archive's central directory; importing this package installs
a version that re-reads an archive only when its ``stat`` changed. Each
check runs in a fresh interpreter, because the hook patches ``zipimport``
for the whole process and the zip package must be imported before it.
"""

import os
import subprocess
import sys

import pytest

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="3.13+ zipimport re-reads lazily; the hook does nothing"
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCRIPT = r"""
import importlib, os, sys, zipfile, zipimport

zp = sys.argv[1]

def write_zip(*extra):
    with zipfile.ZipFile(zp, "w") as z:
        z.writestr("zpkg/__init__.py", "")
        z.writestr("zpkg/a/__init__.py", "X = 1\n")
        z.writestr("zpkg/b/__init__.py", "Y = 2\n")
        z.writestr("zpkg/a/m.py", "")
        z.writestr("zpkg/b/m.py", "")
        for name in extra:
            z.writestr(name, "Z = 3\n")

write_zip()
sys.path.insert(0, zp)
import zpkg.a.m, zpkg.b.m
stock = zipimport.zipimporter.invalidate_caches
importers = [f for f in sys.path_importer_cache.values()
             if isinstance(f, zipimport.zipimporter) and f.archive == zp]

import custom_columnar_format_spark
from custom_columnar_format_spark import shipping

reads = []
read_directory = zipimport._read_directory
def counting(archive):
    reads.append(archive)
    return read_directory(archive)
zipimport._read_directory = counting

def zip_reads_across_invalidate():
    del reads[:]
    importlib.invalidate_caches()
    return reads.count(zp)

print("importers", len(importers))
print("first", zip_reads_across_invalidate())
print("unchanged", zip_reads_across_invalidate(), zip_reads_across_invalidate())

write_zip("zpkg/b/new.py")
print("rewritten", zip_reads_across_invalidate())
import zpkg.b.new
print("new_module", zpkg.b.new.Z)
print("after_rewrite", zip_reads_across_invalidate())

wrapper = zipimport.zipimporter.invalidate_caches
shipping.cache_zip_directories()
importlib.reload(shipping).cache_zip_directories()
print("one_wrapper", zipimport.zipimporter.invalidate_caches is wrapper, wrapper is not stock,
      [c.cell_contents for c in wrapper.__closure__ if c.cell_contents is stock] == [stock])
"""


def _run(tmp_path) -> dict:
    """The script's ``name values...`` lines as a dict; the script's stderr
    under ``"stderr"`` (a traceback there means a later line is missing)."""
    proc = subprocess.run(
        [sys.executable, "-c", SCRIPT, str(tmp_path / "zpkg.zip")],
        cwd=REPO, capture_output=True, text=True,
    )
    got = {line.split()[0]: line.split()[1:] for line in proc.stdout.splitlines()}
    got["stderr"] = proc.stderr
    return got


def test_unchanged_archive_is_not_reread(tmp_path):
    got = _run(tmp_path)
    assert int(got["importers"][0]) == 4  # the archive root and three package dirs
    assert got["unchanged"] == ["0", "0"]
    assert int(got["first"][0]) <= 1  # once per archive, not once per importer


def test_rewritten_archive_is_reread_and_new_module_imports(tmp_path):
    got = _run(tmp_path)
    assert int(got["rewritten"][0]) >= 1
    assert got["new_module"] == ["3"]
    assert got["after_rewrite"] == ["0"]


def test_installing_twice_leaves_one_wrapper(tmp_path):
    got = _run(tmp_path)
    assert got.get("one_wrapper") == ["True", "True", "True"], got["stderr"]

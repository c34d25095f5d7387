"""The benchmark's traced runs (``perfbench --trace 1``) wrap program
functions by module attribute name, and its output checks call program
functions as ``module.attr(...)``. This checks that every attribute it wraps
or calls still exists and is callable, so a cleanup that renames or deletes
one fails here instead of breaking a benchmark run or its correctness check."""

import ast
import importlib
import os

PERFBENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench")
PACKAGE = "custom_columnar_format_spark"


def _package_names(tree: ast.AST) -> dict:
    """Local name → dotted path of every name imported from the package."""
    return {
        alias.asname or alias.name: f"{node.module}.{alias.name}"
        for node in ast.walk(tree)
        if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(PACKAGE)
        for alias in node.names
    }


def _wrapped_attrs(source: str) -> set:
    """(module, attribute) pairs a perfbench file wraps: every
    ``wrapped(tracer, module, "attr", ...)`` call and every
    ``(module, "attr", ...)`` tuple it feeds to ``wrapped``, where
    ``module`` is a name imported from the package."""
    tree = ast.parse(source)
    modules = _package_names(tree)
    found = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Call) and getattr(node.func, "id", None) == "wrapped":
            elts = node.args[1:3]
        elif isinstance(node, ast.Tuple):
            elts = node.elts[:2]
        else:
            continue
        if (
            len(elts) == 2
            and isinstance(elts[0], ast.Name)
            and elts[0].id in modules
            and isinstance(elts[1], ast.Constant)
            and isinstance(elts[1].value, str)
        ):
            found.add((modules[elts[0].id], elts[1].value))
    return found


def _called_attrs(source: str) -> set:
    """(module, attribute) pairs of every ``module.attr(...)`` call a
    perfbench file makes, where ``module`` is a name imported from the
    package."""
    tree = ast.parse(source)
    modules = _package_names(tree)
    return {
        (modules[node.func.value.id], node.func.attr)
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and isinstance(node.func.value, ast.Name)
        and node.func.value.id in modules
    }


def test_perfbench_wrapped_attributes_exist():
    wrapped, called = set(), set()
    for name in sorted(os.listdir(PERFBENCH)):
        if name.endswith(".py"):
            with open(os.path.join(PERFBENCH, name)) as f:
                source = f.read()
            wrapped |= _wrapped_attrs(source)
            called |= _called_attrs(source)
    # the parse found the hooks both workloads are known to install
    assert (f"{PACKAGE}.scbf.codec", "write_table_path") in wrapped
    assert (f"{PACKAGE}.scbf.codec", "write_arrow_table") in wrapped
    assert (f"{PACKAGE}.scbf.codec_v2", "read_meta") in wrapped
    # ... and the readers the ingest output check calls
    assert (f"{PACKAGE}.scbf.codec", "read_arrow_table") in called
    assert (f"{PACKAGE}.scbf.codec_v2", "read_arrow_table") in called
    for module, attr in sorted(wrapped | called):
        assert callable(getattr(importlib.import_module(module), attr, None)), (module, attr)

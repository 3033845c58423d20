"""Every top-level name of the engine outside ``plans/`` has a caller
outside the tests.

A definition that only tests call is code the engine carries for no
query, pipeline, benchmark or tool. The scan reads code identifiers
only (``ast.Name``, ``ast.Attribute`` and imported names), so a mention
in a docstring or comment is not a caller, and neither is a re-export
in an ``__init__.py`` or a reference inside the definition itself.

No code of the engine names a private ``spark.graft.*`` session conf:
a result that such a conf switches is one the driver's vanilla session
never produces.
"""

from __future__ import annotations

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "aqi_analysis_apache_airflow_spark")

#: Names kept without a non-test caller, each with its reason.
ALLOWED = {
    # the pd.merge_asof reference that tests check asof_join against
    "asof_join_cogrouped",
    # four pipeline tests drive the stage -> NDS chain through it
    "run_stage_to_nds",
}


def _py_files(root: str) -> list[str]:
    return sorted(
        os.path.join(d, f)
        for d, _, files in os.walk(root)
        for f in files
        if f.endswith(".py")
    )


def _non_test_sources() -> list[str]:
    """The package (``plans/`` included), the driver entry point, the
    bench and every script under ``perfbench/`` and ``tools/``."""
    return (
        _py_files(PKG)
        + [os.path.join(REPO, "__spark_entry__.py"), os.path.join(REPO, "bench.py")]
        + _py_files(os.path.join(REPO, "perfbench"))
        + _py_files(os.path.join(REPO, "tools"))
    )


def _definitions() -> list[tuple[str, str, int, int]]:
    """(file, name, first line, last line) of every top-level function,
    class and assigned name in the package outside ``plans/`` and the
    ``__init__.py`` files."""
    out = []
    for path in _py_files(PKG):
        rel = os.path.relpath(path, PKG)
        if rel.startswith("plans" + os.sep) or os.path.basename(path) == "__init__.py":
            continue
        with open(path) as fh:
            tree = ast.parse(fh.read())
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                names = [node.name]
            elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                names = [t.id for t in targets if isinstance(t, ast.Name)]
            else:
                continue
            first = min([node.lineno] + [d.lineno for d in getattr(node, "decorator_list", [])])
            out += [(path, n, first, node.end_lineno) for n in names]
    return out


def _references() -> dict[str, list[tuple[str, int]]]:
    """name -> [(file, line)] of every code reference to it."""
    refs: dict[str, list[tuple[str, int]]] = {}
    for path in _non_test_sources():
        is_init = os.path.basename(path) == "__init__.py"
        with open(path) as fh:
            tree = ast.parse(fh.read())
        for node in ast.walk(tree):
            if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
                names = [node.id]
            elif isinstance(node, ast.Attribute) and isinstance(node.ctx, ast.Load):
                names = [node.attr]
            elif isinstance(node, ast.ImportFrom) and not is_init:
                names = [a.name for a in node.names]
            else:
                continue
            for n in names:
                refs.setdefault(n, []).append((path, node.lineno))
    return refs


def test_every_name_outside_plans_has_a_non_test_caller():
    refs = _references()
    uncalled = sorted(
        f"{os.path.relpath(path, REPO)}::{name}"
        for path, name, first, last in _definitions()
        if name not in ALLOWED
        and not any(
            not (ref_path == path and first <= line <= last)
            for ref_path, line in refs.get(name, [])
        )
    )
    assert not uncalled, "no caller outside the tests:\n" + "\n".join(uncalled)


#: Prefix of the session confs private to this engine.
_PRIVATE_CONF = "spark.graft."


def test_no_code_reads_a_private_session_conf():
    found = []
    for path in _py_files(PKG) + [os.path.join(REPO, "__spark_entry__.py")]:
        with open(path) as fh:
            tree = ast.parse(fh.read())
        for top in tree.body:
            if isinstance(top, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                owner = top.name
            elif isinstance(top, ast.Assign):
                owner = ",".join(ast.unparse(t) for t in top.targets)
            elif isinstance(top, ast.AnnAssign):
                owner = ast.unparse(top.target)
            else:
                owner = f"line {top.lineno}"
            found += [
                f"{os.path.relpath(path, REPO)}::{owner}: {node.value!r}"
                for node in ast.walk(top)
                if isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and node.value.startswith(_PRIVATE_CONF)
            ]
    assert not found, "private session confs:\n" + "\n".join(found)

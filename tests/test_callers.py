"""Every top-level name of the engine outside ``plans/`` has a caller
outside the tests.

A definition that only tests call is code the engine carries for no
query, pipeline, benchmark or tool. The scan reads code identifiers
only (``ast.Name``, ``ast.Attribute`` and imported names), so a mention
in a docstring or comment is not a caller, and neither is a re-export
in an ``__init__.py`` or a reference inside the definition itself. A
reference counts only in the defining module or in a file that imports
that module: a local variable that shares a definition's name in some
other module is not a caller.

Every parameter with a default, on a function outside ``plans/``,
receives at least two distinct values from the callers outside the
tests: an option that every caller sets the same way is a constant
with an unused branch around it.

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


def _engine_files() -> list[str]:
    """The package outside ``plans/`` and the ``__init__.py`` files."""
    return [
        path
        for path in _py_files(PKG)
        if not os.path.relpath(path, PKG).startswith("plans" + os.sep)
        and os.path.basename(path) != "__init__.py"
    ]


def _parse(path: str) -> ast.Module:
    with open(path) as fh:
        return ast.parse(fh.read())


def _module(path: str, root: str) -> str:
    """The dotted module name of ``path`` relative to ``root``."""
    parts = os.path.splitext(os.path.relpath(path, root))[0].split(os.sep)
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _imported_modules(path: str, tree: ast.Module, root: str) -> set[str]:
    """Every module ``path`` imports, relative imports resolved. For
    ``from M import x`` both ``M`` and ``M.x`` count, since ``x`` may
    be a submodule."""
    package = _module(path, root).split(".")
    if os.path.basename(path) != "__init__.py":
        package = package[:-1]
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = package[: len(package) - node.level + 1] if node.level else []
            mod = ".".join(base + ([node.module] if node.module else []))
            out.add(mod)
            out.update(f"{mod}.{a.name}" for a in node.names)
    return out


def _definitions(files: list[str]) -> list[tuple[str, str, int, int]]:
    """(file, name, first line, last line) of every top-level function,
    class and assigned name in ``files``."""
    out = []
    for path in files:
        for node in _parse(path).body:
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


def _references(files: list[str], root: str) -> dict[str, list[tuple[str, int, set[str]]]]:
    """name -> [(file, line, modules the file is or imports)] of every
    code reference to it in ``files``."""
    refs: dict[str, list[tuple[str, int, set[str]]]] = {}
    for path in files:
        is_init = os.path.basename(path) == "__init__.py"
        tree = _parse(path)
        reach = _imported_modules(path, tree, root) | {_module(path, root)}
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
                refs.setdefault(n, []).append((path, node.lineno, reach))
    return refs


def _uncalled(def_files: list[str], caller_files: list[str], root: str) -> list[str]:
    """``file::name`` of every top-level name of ``def_files`` that no
    code of ``caller_files`` references, outside the definition itself,
    from its own module or from a file that imports that module."""
    refs = _references(caller_files, root)
    return sorted(
        f"{os.path.relpath(path, REPO)}::{name}"
        for path, name, first, last in _definitions(def_files)
        if not any(
            _module(path, root) in reach
            and not (ref_path == path and first <= line <= last)
            for ref_path, line, reach in refs.get(name, [])
        )
    )


def test_every_name_outside_plans_has_a_non_test_caller():
    found = _uncalled(_engine_files(), _non_test_sources(), REPO)
    uncalled = [f for f in found if f.split("::")[1] not in ALLOWED]
    assert not uncalled, "no caller outside the tests:\n" + "\n".join(uncalled)
    stale = ALLOWED - {f.split("::")[1] for f in found}
    assert not stale, f"allowed names that have a caller now: {sorted(stale)}"


def test_name_guard_ignores_a_same_named_local(tmp_path):
    pkg = tmp_path / "pkg"
    pkg.mkdir()
    (pkg / "__init__.py").write_text("")
    dag = pkg / "dag.py"
    dag.write_text("def edges():\n    return set()\n")
    graph = pkg / "graph.py"
    graph.write_text("def degree(edges):\n    return len(edges)\n")
    main = tmp_path / "main.py"
    main.write_text("from pkg.graph import degree\ndegree([])\n")
    files = [str(dag), str(graph)], [str(dag), str(graph), str(main)]
    assert _uncalled(*files, str(tmp_path)) == [f"{os.path.relpath(dag, REPO)}::edges"]
    run = pkg / "run.py"
    run.write_text("from . import dag\ndag.edges()\n")
    assert _uncalled(files[0], files[1] + [str(run)], str(tmp_path)) == []


#: Options kept with one value among the non-test callers, each with
#: its reason. A test that sets another value is no reason: an option
#: whose other values only a test takes guards a path nothing ships.
ALLOWED_OPTIONS = {
    # an input check: the shipped callers trust their sources
    "merge_upsert(assert_unique_source)": "a test rejects duplicate keys",
    # the DAG calls these through getattr, without ``at`` or ``now``;
    # perfbench passes its simulated night
    "set_cet(at)": "the DAG stamps the current time",
    "set_lset(at)": "the DAG stamps the current time",
    "upsert_states(now)": "the DAG stamps the current time",
    "upsert_counties(now)": "the DAG stamps the current time",
    "upsert_measurements(now)": "the DAG stamps the current time",
}


def _call_values(call: ast.Call, fn: ast.FunctionDef) -> dict[str, str]:
    """param -> source text of the value ``call`` gives each parameter
    of ``fn`` that has a default; the default's text when it gives
    none, ``*`` when a starred argument may give it."""
    args = fn.args
    positional = [a.arg for a in args.posonlyargs + args.args]
    defaults = dict(zip(positional[len(positional) - len(args.defaults):], args.defaults))
    defaults.update(
        (a.arg, d) for a, d in zip(args.kwonlyargs, args.kw_defaults) if d is not None
    )
    given = {kw.arg: ast.unparse(kw.value) for kw in call.keywords if kw.arg}
    for i, arg in enumerate(call.args):
        if isinstance(arg, ast.Starred):
            break
        if i < len(positional):
            given[positional[i]] = ast.unparse(arg)
    starred = any(isinstance(a, ast.Starred) for a in call.args) or any(
        kw.arg is None for kw in call.keywords
    )
    return {
        p: given.get(p, "*" if starred else ast.unparse(d))
        for p, d in defaults.items()
    }


def _one_value_options(def_files: list[str], caller_files: list[str]) -> list[str]:
    """``file::function(param)`` of every parameter with a default, on a
    top-level function of ``def_files``, that the calls in
    ``caller_files`` give fewer than two distinct values. A call is
    matched by name (an import alias resolves to its name), and calls
    inside the function itself do not count; a function with no call
    is the name guard's business."""
    calls: dict[str, list[tuple[str, ast.Call]]] = {}
    for path in caller_files:
        tree = _parse(path)
        alias = {
            a.asname: a.name
            for node in ast.walk(tree)
            if isinstance(node, ast.ImportFrom)
            for a in node.names
            if a.asname
        }
        for node in ast.walk(tree):
            if isinstance(node, ast.Call):
                f = node.func
                name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                calls.setdefault(alias.get(name, name), []).append((path, node))
    found = []
    for path in def_files:
        for fn in _parse(path).body:
            if not isinstance(fn, ast.FunctionDef):
                continue
            values: dict[str, set[str]] = {}
            for call_path, call in calls.get(fn.name, []):
                if call_path == path and fn.lineno <= call.lineno <= fn.end_lineno:
                    continue
                for p, v in _call_values(call, fn).items():
                    values.setdefault(p, set()).add(v)
            found += [
                f"{os.path.relpath(path, REPO)}::{fn.name}({p})"
                for p, vs in values.items()
                if len(vs) < 2
            ]
    return found


def test_every_option_outside_plans_takes_two_values():
    found = _one_value_options(_engine_files(), _non_test_sources())
    fixed = [f for f in found if f.split("::")[1] not in ALLOWED_OPTIONS]
    assert not fixed, "options every non-test caller sets alike:\n" + "\n".join(fixed)
    stale = set(ALLOWED_OPTIONS) - {f.split("::")[1] for f in found}
    assert not stale, f"allowed options that take two values now: {sorted(stale)}"


def test_option_guard_flags_a_planted_one_value_option(tmp_path):
    engine = tmp_path / "engine.py"
    engine.write_text("def scan(rows, width=3, *, sep=','):\n    return rows\n")
    callers = tmp_path / "callers.py"
    callers.write_text(
        "from engine import scan as read\n"
        "scan(1)\n"
        "read(2, 3, sep=',')\n"
        "scan(3, sep=';')\n"
    )
    files = [str(engine)], [str(engine), str(callers)]
    assert _one_value_options(*files) == [
        f"{os.path.relpath(engine, REPO)}::scan(width)"
    ]
    callers.write_text(callers.read_text() + "read(4, width=5)\n")
    assert _one_value_options(*files) == []


#: Prefix of the session confs private to this engine.
_PRIVATE_CONF = "spark.graft."


def test_no_code_reads_a_private_session_conf():
    found = []
    for path in _py_files(PKG) + [os.path.join(REPO, "__spark_entry__.py")]:
        for top in _parse(path).body:
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

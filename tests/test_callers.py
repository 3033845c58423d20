"""Every top-level name of the engine outside ``plans/`` has a caller
outside the tests.

A definition that only tests call is code the engine carries for no
query, pipeline, benchmark or tool. The scan reads code identifiers
only (``ast.Name``, ``ast.Attribute`` and imported names), so a mention
in a docstring or comment is not a caller, and neither is a re-export
in an ``__init__.py`` or a reference inside the definition itself.

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


def _definitions() -> list[tuple[str, str, int, int]]:
    """(file, name, first line, last line) of every top-level function,
    class and assigned name in :func:`_engine_files`."""
    out = []
    for path in _engine_files():
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


def _references() -> dict[str, list[tuple[str, int]]]:
    """name -> [(file, line)] of every code reference to it."""
    refs: dict[str, list[tuple[str, int]]] = {}
    for path in _non_test_sources():
        is_init = os.path.basename(path) == "__init__.py"
        for node in ast.walk(_parse(path)):
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


#: Options kept with one value among the non-test callers, each with
#: its reason.
ALLOWED_OPTIONS = {
    # a test runs each at another value to check behaviour the shipped
    # code has: a fixed round count, convergence within a cap, and
    # both sides of the label broadcast gate
    "lpa_propagate(rounds)": "tests unroll 4 and 7 rounds and the fixed point",
    "lpa_propagate(max_rounds)": "a test caps a 2-cycle at 4 rounds",
    "lpa_propagate(broadcast_labels)": "tests force both join paths",
    "lpa_semisync(max_rounds)": "tests converge random graphs under 30",
    "lpa_semisync(broadcast_labels)": "tests force both join paths",
    "ngram_jaccard_pairs(threshold)": "a test finds pairs below 0.5",
    "simhash_band_pairs(max_hamming)": "a test widens the Hamming bound",
    "ivf_topk(k)": "a test checks recall at k=20",
    "salted_join(n_salts)": "a test salts with another count",
    "salted_join(how)": "tests check the left and anti joins",
    "asof_join(value_cols)": "tests carry every right column (None)",
    "merge_upsert(assert_unique_source)": "a test rejects duplicate keys",
    # the DAG calls both through getattr, without ``at``
    "set_cet(at)": "the DAG stamps the current time",
    "set_lset(at)": "the DAG stamps the current time",
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

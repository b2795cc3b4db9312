"""Every top-level def in the package has a caller outside the tests.

The scan is over identifiers in code (names, attribute names, imported
names), not strings: the package itself, ``__spark_entry__.py``,
``bench.py``, ``perfbench/`` and ``tools/``.  A def's references from
inside its own body do not count.  A def that nothing there reaches is
dead code unless :data:`KEEP` names it with its reason:

* ``oracle``: a test's independent reference implementation;
* ``reference-edge``: an edge of the reference ETL a user drives directly;
* ``sql-surface``: README's SQL entry points (tables, queries, TVFs).

The same callers must also set every option: a defaulted parameter of
a package function or class method that some call there reaches, yet
that no such call passes (by position or keyword; ``*args`` and
``**kwargs`` count as passing everything), is a constant spelled as a
knob.  :data:`KEEP_OPTIONS` names the exceptions with their reason:

* ``deployment``: an address a deployment points elsewhere;
* ``test-seam``: an injected clock, retry count, back-off, trigger or
  iteration cap that tests set to reach a branch quickly;
* ``sql-surface``: the operator twin of a README SQL entry point's
  option, pinned equal to it by the TVF tests.

A further AST check covers the other hand-kept name list: every entry
of ``tests/conftest.py``'s slow list is a test that exists.

AST only, no Spark.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "nr_rfc_dischargeobs_spark"
TESTS = ROOT / "tests"

KEEP = {
    "extensions/similarity.py::cosine_neardup_pairs": "oracle",
    "extensions/similarity.py::sq8_decode": "oracle",
    "extensions/similarity.py::ivfadc_decode": "oracle",
    "operators/recurrence.py::rising_falling_python": "oracle",
    "sources/excel.py::read_excel": "reference-edge",
    "sources/excel.py::write_sheet": "reference-edge",
    "sources/excel.py::write_legacy_xls": "reference-edge",
    "sources/fetch.py::fetch_to_landing": "reference-edge",
    "sources/fetch.py::datamart_urls": "reference-edge",
    "functions/formula.py::evaluate": "reference-edge",
    "functions/formula.py::references": "reference-edge",
    "pipelines.py::coffee_instant_frame": "reference-edge",
    "plans/catalog.py::register_tables": "sql-surface",
    "plans/catalog.py::register_queries": "sql-surface",
    "plans/sqlfn.py::register_sql_tvfs": "sql-surface",
    "plans/sqlfn.py::register_ivf_pq_search_tvf": "sql-surface",
    "plans/sqlfn.py::register_ivfadc_range_tvf": "sql-surface",
    "plans/sqlfn.py::register_ivfadc_segments_tvf": "sql-surface",
}

KEEP_OPTIONS = {
    "session.py::get_spark:master": "deployment",
    "sources/nwis.py::iv_url:base": "deployment",
    "sources/nwis.py::default_window:now": "test-seam",
    "sources/nwis.py::fetch_iv:retries": "test-seam",
    "sources/nwis.py::fetch_iv:backoff_seconds": "test-seam",
    "streaming/ingest.py::stream_upsert_into_store:available_now":
        "test-seam",
    "extensions/dedup.py::connected_components:max_iter": "test-seam",
    "extensions/dedup.py::connected_components_star:max_iter": "test-seam",
    "extensions/ann_store.py::search_segments:where": "sql-surface",
    "extensions/ann_store.py::search_segments:probe_matching_only":
        "sql-surface",
    "extensions/ann_store.py::search_segments:target_candidates":
        "sql-surface",
    "extensions/ann_store.py::range_search_segments:where": "sql-surface",
    "extensions/ann_store.py::range_search_segments:probe_matching_only":
        "sql-surface",
    "extensions/ann_store.py::range_search_segments:target_candidates":
        "sql-surface",
}

_FN = (ast.FunctionDef, ast.AsyncFunctionDef)
_DEF = (*_FN, ast.ClassDef)


def _sources() -> list[Path]:
    return [
        *sorted(PKG.rglob("*.py")),
        ROOT / "__spark_entry__.py",
        ROOT / "bench.py",
        *sorted((ROOT / "perfbench").rglob("*.py")),
        *sorted((ROOT / "tools").rglob("*.py")),
    ]


def _scan() -> tuple[dict[str, str], set[str]]:
    """(``module::name`` -> name for each top-level package def, every
    identifier referenced outside the def that binds it)."""
    defs: dict[str, str] = {}
    refs: set[str] = set()
    for path in _sources():
        tree = ast.parse(path.read_text(), filename=str(path))
        for top in tree.body:
            own = top.name if isinstance(top, _DEF) else None
            if own and path.is_relative_to(PKG):
                defs[f"{path.relative_to(PKG).as_posix()}::{own}"] = own
            for node in ast.walk(top):
                if isinstance(node, ast.Name):
                    name = node.id
                elif isinstance(node, ast.Attribute):
                    name = node.attr
                elif isinstance(node, ast.alias):
                    name = node.name.rsplit(".", 1)[-1]
                else:
                    continue
                if name != own:
                    refs.add(name)
    return defs, refs


def test_every_package_def_has_a_caller_outside_the_tests():
    defs, refs = _scan()
    dead = sorted(k for k, name in defs.items()
                  if name not in refs and k not in KEEP)
    assert not dead, (
        f"no caller outside tests/: {dead}; delete them (and the tests "
        "that exercise only them) or add them to KEEP with a reason")


def test_keep_list_names_only_live_uncalled_defs():
    assert set(KEEP.values()) <= {"oracle", "reference-edge", "sql-surface"}
    defs, refs = _scan()
    gone = sorted(k for k in KEEP if k not in defs)
    assert not gone, f"KEEP names defs that no longer exist: {gone}"
    called = sorted(k for k in KEEP if defs[k] in refs)
    assert not called, f"KEEP names defs that now have a caller: {called}"


def _defaulted(fn: ast.FunctionDef) -> list[tuple[int | None, str]]:
    """(position, or None when keyword-only; name) of each parameter
    with a default."""
    pos = [a.arg for a in fn.args.posonlyargs + fn.args.args]
    first = len(pos) - len(fn.args.defaults)
    return [(i, name) for i, name in enumerate(pos) if i >= first] + [
        (None, a.arg)
        for a, d in zip(fn.args.kwonlyargs, fn.args.kw_defaults)
        if d is not None
    ]


def _option_scan() -> dict[str, bool]:
    """``module::qualname:param`` -> whether some call outside tests/
    passes it, for every defaulted parameter of a top-level package
    function or class method that such a call reaches.  Calls match
    defs by name (a class name calls its ``__init__``); a call inside
    a def of the same name does not count."""
    defs = {}
    for path in sorted(PKG.rglob("*.py")):
        mod = path.relative_to(PKG).as_posix()
        for top in ast.parse(path.read_text(), filename=str(path)).body:
            if isinstance(top, _FN):
                defs[f"{mod}::{top.name}"] = (top.name, 0, _defaulted(top))
            elif isinstance(top, ast.ClassDef):
                for fn in top.body:
                    if not isinstance(fn, _FN):
                        continue
                    static = any(
                        isinstance(d, ast.Name) and d.id == "staticmethod"
                        for d in fn.decorator_list
                    )
                    name = top.name if fn.name == "__init__" else fn.name
                    defs[f"{mod}::{top.name}.{fn.name}"] = (
                        name, 0 if static else 1, _defaulted(fn)
                    )

    calls: dict[str, list[ast.Call]] = {}

    def visit(node: ast.AST, own: frozenset[str]) -> None:
        if isinstance(node, _DEF):
            own = own | {node.name}
        if isinstance(node, ast.Call):
            f = node.func
            name = (f.id if isinstance(f, ast.Name)
                    else f.attr if isinstance(f, ast.Attribute) else None)
            if name is not None and name not in own:
                calls.setdefault(name, []).append(node)
        for child in ast.iter_child_nodes(node):
            visit(child, own)

    for path in _sources():
        visit(ast.parse(path.read_text(), filename=str(path)), frozenset())

    def passes(call: ast.Call, pos: int | None, arg: str) -> bool:
        if any(k.arg is None or k.arg == arg for k in call.keywords):
            return True
        return pos is not None and (
            any(isinstance(a, ast.Starred) for a in call.args)
            or len(call.args) > pos
        )

    return {
        f"{key}:{arg}": any(
            passes(c, None if pos is None else pos - off, arg)
            for c in calls[name]
        )
        for key, (name, off, opts) in defs.items()
        if name in calls
        for pos, arg in opts
    }


def test_every_option_is_set_by_a_caller_outside_the_tests():
    unset = sorted(
        k for k, passed in _option_scan().items()
        if not passed and k not in KEEP_OPTIONS
    )
    assert not unset, (
        f"{len(unset)} options no caller outside tests/ sets: {unset}; "
        "make each a constant in the body (and delete the tests that "
        "exercise only it) or add it to KEEP_OPTIONS with a reason")


def test_keep_options_names_only_live_unset_options():
    assert set(KEEP_OPTIONS.values()) <= {
        "deployment", "test-seam", "sql-surface"}
    options = _option_scan()
    gone = sorted(k for k in KEEP_OPTIONS if k not in options)
    assert not gone, (
        f"KEEP_OPTIONS names options that no longer exist (or whose def "
        f"no call outside tests/ reaches): {gone}")
    passed = sorted(k for k in KEEP_OPTIONS if options[k])
    assert not passed, (
        f"KEEP_OPTIONS names options a caller now sets: {passed}")


def _slow_list() -> set[str]:
    tree = ast.parse((TESTS / "conftest.py").read_text())
    for top in tree.body:
        if isinstance(top, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "_SLOW_TESTS"
            for t in top.targets
        ):
            return {node.value for node in ast.walk(top.value)
                    if isinstance(node, ast.Constant)}
    raise AssertionError("tests/conftest.py assigns no _SLOW_TESTS")


def test_slow_list_names_only_existing_tests():
    tests = {
        node.name
        for path in sorted(TESTS.rglob("test_*.py"))
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path)))
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
        and node.name.startswith("test_")
    }
    stale = sorted(_slow_list() - tests)
    assert not stale, f"_SLOW_TESTS names no test under tests/: {stale}"

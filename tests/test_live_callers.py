"""Every top-level def in the package has a caller outside the tests.

The scan is over identifiers in code (names, attribute names, imported
names), not strings: the package itself, ``__spark_entry__.py``,
``bench.py``, ``perfbench/`` and ``tools/``.  A def's references from
inside its own body do not count.  A def that nothing there reaches is
dead code unless :data:`KEEP` names it with its reason:

* ``oracle``: a test's independent reference implementation;
* ``reference-edge``: an edge of the reference ETL a user drives directly;
* ``sql-surface``: README's SQL entry points (tables, queries, TVFs).

A second AST check covers the other hand-kept name list: every entry
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

_DEF = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


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

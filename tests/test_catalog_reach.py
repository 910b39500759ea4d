"""Every top-level function in ``catalog/`` is reachable: it is either a
registered ``@query`` entry or referenced by name from the code that runs
(the package, ``bench.py``, ``tools/``, ``perfbench/`` and
``__spark_entry__.py``). Tests do not count as a caller.

Pure ``ast`` scan, no Spark session.
"""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parents[1]
PKG = ROOT / "kafka_streams_task_spark"


def _sources() -> list[pathlib.Path]:
    paths = [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    for d in (PKG, ROOT / "tools", ROOT / "perfbench"):
        paths += sorted(d.rglob("*.py"))
    return paths


def _is_query(dec: ast.expr) -> bool:
    fn = dec.func if isinstance(dec, ast.Call) else dec
    return (isinstance(fn, ast.Name) and fn.id == "query") or (
        isinstance(fn, ast.Attribute) and fn.attr == "query"
    )


def test_every_catalog_function_is_registered_or_used():
    used: set[str] = set()
    for path in _sources():
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Name):
                used.add(node.id)
            elif isinstance(node, ast.Attribute):
                used.add(node.attr)
    unreached = []
    for path in sorted((PKG / "catalog").glob("*.py")):
        for node in ast.parse(path.read_text(), str(path)).body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            if any(_is_query(d) for d in node.decorator_list):
                continue
            if node.name not in used:
                unreached.append(f"catalog/{path.name}::{node.name}")
    assert not unreached, "no caller and not @query-registered: " + ", ".join(
        unreached
    )

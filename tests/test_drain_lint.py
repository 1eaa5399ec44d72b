"""Stream-drain lint: sinks.run_available_now is the only code that waits
on a streaming query, and the registry drain is the only query code that
sets the state width.

A site that awaits its own query picks its own timeout and may forget to
stop the query on a hang; a site that sets ``spark.sql.shuffle.partitions``
around its own stream is one more copy of the state-width policy to keep
in step — the copy-paste shapes this lint keeps from coming back.
"""

from __future__ import annotations

import ast
import pathlib

import pytest

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = ROOT / "flink_realtime_data_eng_spark"
MODULES = sorted(PKG.rglob("*.py"))
WIDTH_KEY = "spark.sql.shuffle.partitions"
# Functions allowed to name the width key, outside session.py's profiles.
WIDTH_SETTERS = {"registry_ops.py": {"_drain_stream"}}


def _rel(path: pathlib.Path) -> str:
    return path.relative_to(PKG).as_posix()


def _functions_naming(tree: ast.AST, literal: str) -> list[str | None]:
    """Enclosing function (None at module level) of every ``literal``."""
    found: list[str | None] = []

    def visit(node: ast.AST, fn: str | None) -> None:
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.Constant) and child.value == literal:
                found.append(fn)
            visit(child, child.name if isinstance(
                child, (ast.FunctionDef, ast.AsyncFunctionDef)) else fn)

    visit(tree, None)
    return found


@pytest.mark.parametrize("path", MODULES, ids=_rel)
def test_only_run_available_now_awaits_a_query(path):
    n = path.read_text().count("awaitTermination(")
    assert n == (1 if _rel(path) == "sinks.py" else 0), (
        f"{_rel(path)} awaits a streaming query: drain it through "
        "sinks.run_available_now")


@pytest.mark.parametrize("path", MODULES, ids=_rel)
def test_only_the_registry_drain_sets_state_width(path):
    if _rel(path) == "session.py":  # the session profiles set the default
        return
    sites = _functions_naming(ast.parse(path.read_text()), WIDTH_KEY)
    assert set(sites) <= WIDTH_SETTERS.get(_rel(path), set()), (
        f"{_rel(path)} sets {WIDTH_KEY} in {sorted(map(str, sites))}: "
        "registry streams take their width from registry_ops._drain_stream")


def test_no_stream_width_env_var():
    # Spelled in two parts so this file does not match its own search.
    var = "SPARK_GRAFT_" + "STREAM_SHUFFLE"
    code = [*MODULES, *ROOT.glob("*.py"), *(ROOT / "tools").glob("*.py"),
            *(ROOT / "tests").glob("*.py")]
    assert [p.name for p in code if var in p.read_text()] == []

"""Source-structure rules for the package, checked on its AST:

- one function starts memory-sink streams
  (`streaming/windows.py:run_to_memory_sink`);
- `spark.sql.shuffle.partitions` is named only by `stateful_start` and by
  `session.py`, so no other code can set the session-global count;
- no module hardcodes the location of the checkout.
"""

from __future__ import annotations

import ast
import pathlib

from steam_prices_data_engineering_spark import REPO_ROOT

PKG = pathlib.Path(REPO_ROOT) / "steam_prices_data_engineering_spark"
SHUFFLE_KEY = "spark.sql.shuffle.partitions"


def _sites(match) -> set[tuple[str, str]]:
    """(module, enclosing top-level function or <module>) of every AST
    node `match` accepts."""
    found = set()
    for path in sorted(PKG.rglob("*.py")):
        module = path.relative_to(PKG).as_posix()
        tree = ast.parse(path.read_text(), filename=str(path))
        for top in tree.body:
            where = (
                top.name
                if isinstance(top, (ast.FunctionDef, ast.AsyncFunctionDef))
                else "<module>"
            )
            found |= {(module, where) for n in ast.walk(top) if match(n)}
    return found


def _memory_sink_format(node) -> bool:
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "format"
        and isinstance(node.func.value, ast.Attribute)
        and node.func.value.attr == "writeStream"
        and bool(node.args)
        and isinstance(node.args[0], ast.Constant)
        and node.args[0].value == "memory"
    )


def test_only_the_runner_starts_memory_sink_streams():
    assert _sites(_memory_sink_format) == {
        ("streaming/windows.py", "run_to_memory_sink")
    }


def test_shuffle_partitions_named_only_by_stateful_start_and_session():
    sites = _sites(
        lambda n: isinstance(n, ast.Constant) and n.value == SHUFFLE_KEY
    )
    assert {s for s in sites if s[0] != "session.py"} == {
        ("streaming/windows.py", "stateful_start")
    }
    assert any(s[0] == "session.py" for s in sites)


def test_no_module_hardcodes_the_checkout_path():
    hits = [
        p.relative_to(PKG).as_posix()
        for p in sorted(PKG.rglob("*.py"))
        if REPO_ROOT in p.read_text()
    ]
    assert hits == []

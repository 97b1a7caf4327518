"""Source-structure rules for the package, checked on its AST:

- one function starts memory-sink streams
  (`streaming/windows.py:run_to_memory_sink`);
- `spark.sql.shuffle.partitions` is named only by `stateful_start` and by
  `session.py`, so no other code can set the session-global count;
- every `writeStream...start()` runs inside a `with stateful_start(...)`
  block, so no stream starts while another thread holds a sized count;
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


def _mentions_write_stream(node, writers: set[str]) -> bool:
    return any(
        (isinstance(n, ast.Attribute) and n.attr == "writeStream")
        or (isinstance(n, ast.Name) and n.id in writers)
        for n in ast.walk(node)
    )


def _is_stateful_start(item: ast.withitem) -> bool:
    call = item.context_expr
    return isinstance(call, ast.Call) and (
        getattr(call.func, "id", None) == "stateful_start"
        or getattr(call.func, "attr", None) == "stateful_start"
    )


def _unguarded_stream_starts(top) -> list[int]:
    """Line numbers of `.start()` calls on a stream writer in `top` that
    no enclosing `with stateful_start(...)` covers. A writer is any
    expression that reads `.writeStream`, or a name assigned from one."""
    writers: set[str] = set()
    assigns = [n for n in ast.walk(top) if isinstance(n, ast.Assign)]
    grew = True
    while grew:
        grew = False
        for a in assigns:
            if _mentions_write_stream(a.value, writers):
                for t in a.targets:
                    if isinstance(t, ast.Name) and t.id not in writers:
                        writers.add(t.id)
                        grew = True
    found = []

    def visit(node, guarded: bool) -> None:
        if isinstance(node, (ast.With, ast.AsyncWith)):
            guarded = guarded or any(map(_is_stateful_start, node.items))
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "start"
            and _mentions_write_stream(node.func.value, writers)
            and not guarded
        ):
            found.append(node.lineno)
        for child in ast.iter_child_nodes(node):
            visit(child, guarded)

    visit(top, False)
    return found


def test_every_stream_start_holds_the_stateful_start_lock():
    unguarded = []
    write_streams = 0
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        module = path.relative_to(PKG).as_posix()
        unguarded += [f"{module}:{n}" for n in _unguarded_stream_starts(tree)]
        write_streams += sum(
            isinstance(n, ast.Attribute) and n.attr == "writeStream"
            for n in ast.walk(tree)
        )
    assert write_streams >= 3  # the rule still sees the package's writers
    assert unguarded == []


def test_no_module_hardcodes_the_checkout_path():
    hits = [
        p.relative_to(PKG).as_posix()
        for p in sorted(PKG.rglob("*.py"))
        if REPO_ROOT in p.read_text()
    ]
    assert hits == []

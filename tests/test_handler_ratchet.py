"""Ratchet on broad exception handlers in the keyed store.

A handler for ``Exception``, ``BaseException`` or a bare ``except``
with no ``raise`` among its own statements can hide a real failure
(a degraded fast path that nobody sees).  This test counts them in
``sources/keyed_parquet.py`` by walking the module's AST — no Spark.

The bound may only go DOWN: when a change narrows or removes such a
handler, lower ``_MAX_BROAD_HANDLERS`` to the new count in the same
change.  Never raise it; narrow the new handler to the exception it
expects, or let the failure surface.
"""

import ast
import inspect

from spark_sql_hbase_spark.sources import keyed_parquet

_MAX_BROAD_HANDLERS = 23
_BROAD = {"Exception", "BaseException"}


def _broad_swallowing_handlers(source: str) -> list[int]:
    lines = []
    for node in ast.walk(ast.parse(source)):
        if not isinstance(node, ast.ExceptHandler):
            continue
        if node.type is None:
            broad = True
        else:
            types = (
                node.type.elts if isinstance(node.type, ast.Tuple)
                else [node.type]
            )
            broad = any(
                isinstance(t, ast.Name) and t.id in _BROAD for t in types
            )
        if broad and not any(isinstance(s, ast.Raise) for s in node.body):
            lines.append(node.lineno)
    return lines


def test_rule_counts_only_broad_handlers_without_raise():
    src = (
        "try:\n    f()\nexcept Exception:\n    pass\n"
        "try:\n    f()\nexcept:\n    pass\n"
        "try:\n    f()\nexcept (OSError, BaseException):\n    x = 1\n"
        "try:\n    f()\nexcept Exception:\n    g()\n    raise\n"
        "try:\n    f()\nexcept OSError:\n    pass\n"
    )
    assert _broad_swallowing_handlers(src) == [3, 7, 11]


def test_broad_exception_handlers_only_go_down():
    found = _broad_swallowing_handlers(inspect.getsource(keyed_parquet))
    assert len(found) <= _MAX_BROAD_HANDLERS, (
        f"{len(found)} broad handlers without a raise in keyed_parquet.py "
        f"(bound {_MAX_BROAD_HANDLERS}) at lines {found}: narrow the new "
        "one to the exception it expects, or let it surface"
    )

"""Engine code calls no ``parse_url`` and extracts no host with
``try_parse_url``; the URL filters have one implementation each.

``parse_url`` raises ``[INVALID_URL]`` under ANSI mode, so one hostile
href fails the whole job. A ``try_parse_url(..., "HOST")`` is a second
host semantics: it is NULL for every URL ``java.net.URI`` rejects
(underscore or non-ASCII hosts, which normalize keeps), so its keys
disagree with generate's. Host extraction goes through
``urlutil.host_expr`` / ``get_host``.

A URL filter is a JVM column (``cond`` / ``url_filter_cond``): no class
in the engine carries a Python ``accept`` twin (the oracles live in
``tests/url_oracles.py``), and ``urls/filters.py`` builds no pandas UDF,
so a rule set cannot fall back to a regex engine the reference does
not run."""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SOURCES = [
    *sorted((ROOT / "nutch_spark").rglob("*.py")),
    *sorted((ROOT / "tools").rglob("*.py")),
    ROOT / "__spark_entry__.py",
]


def _callee(node: ast.Call) -> str | None:
    f = node.func
    if isinstance(f, ast.Attribute):
        return f.attr
    if isinstance(f, ast.Name):
        return f.id
    return None


def _literal(node: ast.AST) -> str | None:
    """The string a part argument names: ``"HOST"`` or ``F.lit("HOST")``."""
    if isinstance(node, ast.Call) and _callee(node) == "lit" and node.args:
        node = node.args[0]
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        return node.value
    return None


def offending_calls(paths) -> list[str]:
    found = []
    for path in paths:
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if not isinstance(node, ast.Call):
                continue
            name = _callee(node)
            where = f"{path}:{node.lineno}"
            if name == "parse_url":
                found.append(f"{where} parse_url")
            elif name == "try_parse_url" and len(node.args) >= 2:
                part = _literal(node.args[1])
                if part is not None and part.upper() == "HOST":
                    found.append(f"{where} try_parse_url HOST")
    return found


def test_no_parse_url_and_no_uri_host(tmp_path):
    probe = tmp_path / "probe.py"
    probe.write_text(
        "F.parse_url(c, F.lit('PATH'))\n"
        "F.try_parse_url(c, F.lit('HOST'))\n"
        "try_parse_url(c, 'HOST')\n"
        "F.try_parse_url(c, F.lit('PATH'))\n"
    )
    # the scan sees every form it forbids, and only those
    assert [s.split(" ", 1)[1] for s in offending_calls([probe])] == [
        "parse_url", "try_parse_url HOST", "try_parse_url HOST",
    ]
    assert offending_calls(SOURCES) == []


def twin_definitions(paths) -> list[str]:
    """``accept`` methods anywhere, and any ``pandas_udf`` use in
    ``urls/filters.py``."""
    found = []
    for path in paths:
        tree = ast.parse(path.read_text(), str(path))
        for node in ast.walk(tree):
            if isinstance(node, ast.ClassDef):
                for item in node.body:
                    if isinstance(item, (ast.FunctionDef, ast.AsyncFunctionDef)) and item.name == "accept":
                        found.append(f"{path}:{item.lineno} {node.name}.accept")
            if path.name == "filters.py" and (
                (isinstance(node, ast.Name) and node.id == "pandas_udf")
                or (isinstance(node, ast.Attribute) and node.attr == "pandas_udf")
                or (isinstance(node, ast.alias) and node.name == "pandas_udf")
            ):
                found.append(f"{path}:{getattr(node, 'lineno', 0)} pandas_udf")
    return found


def test_no_accept_twins_and_no_filter_udf(tmp_path):
    probe = tmp_path / "filters.py"
    probe.write_text(
        "from pyspark.sql.functions import pandas_udf\n"
        "class A:\n"
        "    def accept(self, url):\n"
        "        return True\n"
        "def accept(url):\n"
        "    return True\n"
        "@F.pandas_udf('boolean')\n"
        "def f(s):\n"
        "    return s\n"
    )
    # the scan sees every form it forbids, and only those (a module-level
    # function named accept is not a twin method)
    assert sorted(s.split(" ", 1)[1] for s in twin_definitions([probe])) == [
        "A.accept", "pandas_udf", "pandas_udf",
    ]
    engine = sorted((ROOT / "nutch_spark").rglob("*.py"))
    assert (ROOT / "nutch_spark" / "urls" / "filters.py") in engine
    assert twin_definitions(engine) == []

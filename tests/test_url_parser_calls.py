"""Engine code calls no ``parse_url`` and extracts no host with
``try_parse_url``.

``parse_url`` raises ``[INVALID_URL]`` under ANSI mode, so one hostile
href fails the whole job. A ``try_parse_url(..., "HOST")`` is a second
host semantics: it is NULL for every URL ``java.net.URI`` rejects
(underscore or non-ASCII hosts, which normalize keeps), so its keys
disagree with generate's. Host extraction goes through
``urlutil.host_expr`` / ``get_host``."""

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

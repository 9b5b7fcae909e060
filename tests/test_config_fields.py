"""Every ``NutchConfig`` field is read by the engine: a field nothing
reads is a setting that silently does nothing."""

import ast
import dataclasses
from pathlib import Path

from nutch_spark.config import NutchConfig

PACKAGE = Path(__file__).resolve().parent.parent / "nutch_spark"

# field -> why it stays although nutch_spark/ never reads it
UNREAD_ALLOWED = {
    "shuffle_partitions": "perfbench/run.py constructs NutchConfig with it",
}


def attribute_loads(root: Path) -> set[str]:
    names = set()
    for path in root.rglob("*.py"):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Attribute) and isinstance(node.ctx, ast.Load):
                names.add(node.attr)
    return names


def test_every_config_field_is_read():
    read = attribute_loads(PACKAGE)
    fields = {f.name for f in dataclasses.fields(NutchConfig)}
    unread = sorted(fields - read - UNREAD_ALLOWED.keys())
    assert unread == [], f"NutchConfig fields nothing in nutch_spark/ reads: {unread}"


def test_allowlist_names_real_unread_fields():
    fields = {f.name for f in dataclasses.fields(NutchConfig)}
    read = attribute_loads(PACKAGE)
    for name in UNREAD_ALLOWED:
        assert name in fields and name not in read, name

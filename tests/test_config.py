"""DedupConfig holds only what the engine reads: its hash gates every resume
and fold, so a field nothing reads would invalidate checkpoints for nothing."""

import ast
from dataclasses import fields
from pathlib import Path

import datasketches_pig_spark
from datasketches_pig_spark.config import DedupConfig


def test_every_config_field_is_read_outside_config():
    pkg = Path(datasketches_pig_spark.__file__).parent
    read = set()
    for path in pkg.rglob("*.py"):
        if path.name == "config.py" and path.parent == pkg:
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Attribute) and isinstance(node.ctx, ast.Load):
                read.add(node.attr)
    unread = [f.name for f in fields(DedupConfig) if f.name not in read]
    assert not unread, f"DedupConfig fields nothing reads: {unread}"

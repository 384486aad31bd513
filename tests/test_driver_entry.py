"""The driver contract's flagship: ``__spark_entry__.entry`` loaded from its
file path, as the round driver loads it, returns rows at sf0.001."""

from __future__ import annotations

import importlib.util
from pathlib import Path

ENTRY = Path(__file__).resolve().parent.parent / "__spark_entry__.py"


def test_entry_returns_rows(spark):
    spec = importlib.util.spec_from_file_location("__spark_entry__", ENTRY)
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    assert m.entry(spark).count() > 0

"""The crawl engine's import closure (``scripts/closure_lines.py``) stays
small and holds only the engine's own modules: the library operators
around the crawl may import the engine, never the other way round.
AST only — no Spark session."""

from __future__ import annotations

import importlib.util
from pathlib import Path

SCRIPT = Path(__file__).resolve().parent.parent / "scripts" / "closure_lines.py"

MAX_LINES = 2300
LIBRARY_ONLY = [
    "docrawl_spark.operators.politeness",
    "docrawl_spark.operators.links",
    "docrawl_spark.operators.recrawl",
    "docrawl_spark.functions.cuckoo",
    "docrawl_spark.functions.domains",
    "docrawl_spark.functions.url_normalize",
]


def _closure_lines():
    spec = importlib.util.spec_from_file_location("closure_lines", SCRIPT)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_closure_is_at_most_max_lines():
    n = _closure_lines().line_count()
    assert n <= MAX_LINES, f"crawl closure is {n} lines (> {MAX_LINES})"


def test_closure_excludes_library_modules():
    found = sorted(set(_closure_lines().closure()) & set(LIBRARY_ONLY))
    assert not found, f"crawl closure reaches library modules {found}"

"""Dead-code guard: every top-level name in the package is used.

Pure Python (ast plus a text search, no Spark). A top-level ``def`` or
module-level assigned name in ``gis_shapefile_spark/`` counts as used
when it appears as a whole word anywhere in the package, ``bench.py``,
``__spark_entry__.py``, ``tools/``, ``perfbench/`` or ``tests/`` outside
its own statement. Registry queries (``q_*``, collected by name in
``__spark_entry__``; ``q_nearest_road_big_oracle`` is an alias) and
dunders are exempt.
"""

from __future__ import annotations

import ast
import re
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "gis_shapefile_spark"
_WORD = re.compile(r"\w+")


def _sources() -> dict[Path, list[str]]:
    paths = [*PACKAGE.rglob("*.py"), ROOT / "bench.py", ROOT / "__spark_entry__.py",
             *(ROOT / "tools").rglob("*.py"), *(ROOT / "perfbench").rglob("*.py"),
             *(ROOT / "tests").rglob("*.py")]
    return {p: p.read_text().splitlines() for p in paths if p.is_file()}


def _exempt(name: str) -> bool:
    return name.startswith("q_") or (name.startswith("__") and name.endswith("__"))


def _defined_names(node: ast.stmt) -> list[str]:
    """Names a top-level statement binds: a def, or the names (tuple
    elements included) an assignment stores to."""
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
        return [node.name]
    if isinstance(node, ast.Assign):
        targets = node.targets
    elif isinstance(node, ast.AnnAssign):
        targets = [node.target]
    else:
        return []
    return [n.id for t in targets for n in ast.walk(t)
            if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Store)]


def unreferenced_defs() -> list[str]:
    sources = _sources()
    words = Counter(w for lines in sources.values() for line in lines for w in _WORD.findall(line))
    dead = []
    for path, lines in sources.items():
        if not path.is_relative_to(PACKAGE):
            continue
        for node in ast.parse("\n".join(lines)).body:
            start = min([d.lineno for d in getattr(node, "decorator_list", [])] + [node.lineno]) - 1
            for name in _defined_names(node):
                if _exempt(name):
                    continue
                own = sum(_WORD.findall(line).count(name) for line in lines[start:node.end_lineno])
                if words[name] == own:
                    dead.append(f"{path.relative_to(ROOT)}::{name}")
    return dead


def test_every_top_level_def_is_referenced():
    assert unreferenced_defs() == []

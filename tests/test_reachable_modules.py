"""Reachability guard — pure Python, no Spark session, no git.

Walks ``frogocr_spark`` imports from the entry points that run the
pipeline or verify it outside pytest: ``frogocr_spark/job.py``,
``frogocr_spark/streaming/stream.py``, ``__spark_entry__.py``,
``bench.py``, ``perfbench/*.py`` and ``tools/*.py``.  Every import
statement counts, function-level ones included, and relative imports are
resolved against the importing module.  The package modules the walk does
not reach are only reached by tests; they must be exactly
``TEST_ONLY_MODULES``.  So the test fails both when a new test-only
module lands and when one is deleted (or becomes reachable) without
shrinking the pin.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "frogocr_spark"
ROOTS = (
    [PACKAGE / "job.py", PACKAGE / "streaming" / "stream.py",
     REPO / "__spark_entry__.py", REPO / "bench.py"]
    + sorted((REPO / "perfbench").glob("*.py"))
    + sorted((REPO / "tools").glob("*.py")))

# operator and function families that only tests import (see ROADMAP
# item 3, which deletes them one family per change)
TEST_ONLY_MODULES = {
    *(f"frogocr_spark.operators.{m}" for m in (
        "analytics", "bpe", "clustering", "featstats", "graph", "layout",
        "ml", "profile", "quality", "sketches", "spatial")),
    "frogocr_spark.functions.urls",
    "frogocr_spark.functions.phonetic",
}


def _package_modules() -> dict[str, Path]:
    mods = {}
    for p in PACKAGE.rglob("*.py"):
        parts = p.relative_to(REPO).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        mods[".".join(parts)] = p
    return mods


def _imports(path: Path, name: str | None, mods: dict[str, Path]):
    """Package modules one file imports; ``name`` is the file's dotted
    module name (``None`` outside the package)."""
    package = (name if path.name == "__init__.py"
               else name.rpartition(".")[0]) if name else ""
    found = set()
    for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
        if isinstance(node, ast.Import):
            targets = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                up = package.rsplit(".", node.level - 1)[0]
                base = f"{up}.{base}" if base else up
            # ``from pkg import mod`` imports the submodule too
            targets = [base] + [f"{base}.{a.name}" for a in node.names]
        else:
            continue
        for t in targets:
            # importing a.b.c also runs the ``__init__`` of a and a.b
            parts = t.split(".")
            found.update(m for m in (".".join(parts[:i + 1])
                                     for i in range(len(parts)))
                         if m in mods)
    return found


def test_only_the_pinned_modules_are_test_only():
    mods = _package_modules()
    by_path = {p: m for m, p in mods.items()}
    todo = [(p, by_path.get(p)) for p in ROOTS]
    reached: set[str] = set()
    while todo:
        path, name = todo.pop()
        if name:
            reached.add(name)
        for m in _imports(path, name, mods) - reached:
            reached.add(m)
            todo.append((mods[m], m))
    test_only = set(mods) - reached
    assert test_only == TEST_ONLY_MODULES, (
        f"newly test-only: {sorted(test_only - TEST_ONLY_MODULES)}; "
        f"no longer test-only: {sorted(TEST_ONLY_MODULES - test_only)}")

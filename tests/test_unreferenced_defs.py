"""Dead-code guard — pure Python, no Spark session, no git.

Every top-level function, class and assigned name in ``frogocr_spark/``
must be named somewhere outside its own definition: in the package, the
tests, the tools, the pipeline benchmark, ``bench.py`` or
``__spark_entry__.py``.  A name is counted as a whole word anywhere in
those ``.py`` files (code, strings and comments alike), less the
occurrences inside the lines of its own definition, so a def that only
calls itself or names itself in its docstring still counts as dead.
Dunder names (``__all__``, ``__version__``) are skipped.

The top-level walk cannot see methods, so the catalog's classes get a
second check: each method must be named as an attribute (``.name``) in
a scanned file outside ``tests/``, less its own definition lines.
"""

from __future__ import annotations

import ast
import re
from collections import Counter
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "frogocr_spark"
SCANNED_DIRS = ("frogocr_spark", "tests", "tools", "perfbench")
SCANNED_FILES = ("bench.py", "__spark_entry__.py")
WORD = re.compile(r"\w+")
ATTRIBUTE = re.compile(r"\.(\w+)")
CATALOG = PACKAGE / "sources" / "catalog.py"
# methods only tests call; this set may only shrink
TEST_ONLY_METHODS = {"read_snapshot"}


def _sources() -> dict[Path, str]:
    paths = [p for d in SCANNED_DIRS for p in (REPO / d).rglob("*.py")
             if "__pycache__" not in p.parts]
    paths += [REPO / f for f in SCANNED_FILES]
    return {p: p.read_text(encoding="utf-8") for p in paths}


def _own_matches(pattern: re.Pattern, node: ast.AST, lines: list[str]):
    """Counts of ``pattern``'s matches in the lines of ``node``'s
    definition, decorators included."""
    start = min([node.lineno] + [d.lineno for d in
                                 getattr(node, "decorator_list", [])])
    return Counter(pattern.findall("\n".join(lines[start - 1:node.end_lineno])))


def _top_level_defs(src: str):
    """Yield (name, line, word counts of the definition's own lines)."""
    lines = src.splitlines()
    for node in ast.parse(src).body:
        if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            names = [node.name]
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = (node.targets if isinstance(node, ast.Assign)
                       else [node.target])
            names = [n.id for t in targets for n in ast.walk(t)
                     if isinstance(n, ast.Name)]
        else:
            continue
        own = _own_matches(WORD, node, lines)
        for name in names:
            if not (name.startswith("__") and name.endswith("__")):
                yield name, node.lineno, own


def test_every_top_level_name_is_referenced():
    sources = _sources()
    counts = Counter()
    for src in sources.values():
        counts.update(WORD.findall(src))
    dead = [f"{path.relative_to(REPO)}:{line} {name}"
            for path, src in sources.items() if path.is_relative_to(PACKAGE)
            for name, line, own in _top_level_defs(src)
            if counts[name] - own[name] <= 0]
    assert not dead, f"{len(dead)} unreferenced top-level names:\n" + \
        "\n".join(sorted(dead))


def test_every_catalog_method_is_called_outside_tests():
    sources = {p: src for p, src in _sources().items()
               if "tests" not in p.relative_to(REPO).parts}
    counts = Counter()
    for src in sources.values():
        counts.update(ATTRIBUTE.findall(src))
    lines = sources[CATALOG].splitlines()
    unreferenced = set()
    for cls in ast.parse(sources[CATALOG]).body:
        if not isinstance(cls, ast.ClassDef):
            continue
        for node in cls.body:
            if not isinstance(node, ast.FunctionDef) or (
                    node.name.startswith("__") and node.name.endswith("__")):
                continue
            own = _own_matches(ATTRIBUTE, node, lines)
            if counts[node.name] - own[node.name] <= 0:
                unreferenced.add(node.name)
    assert unreferenced == TEST_ONLY_METHODS, (
        f"catalog methods no non-test file calls: "
        f"{sorted(unreferenced - TEST_ONLY_METHODS)}; allowed but now "
        f"called (drop from TEST_ONLY_METHODS): "
        f"{sorted(TEST_ONLY_METHODS - unreferenced)}")

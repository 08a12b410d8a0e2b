"""Dead-code guard — pure Python, no Spark session, no git.  Three
checks:

- *Modules.*  The walk follows ``frogocr_spark`` imports from the entry
  points that run the pipeline or verify it outside pytest:
  ``frogocr_spark/job.py``, ``frogocr_spark/streaming/stream.py``,
  ``__spark_entry__.py``, ``bench.py``, ``perfbench/*.py`` and
  ``tools/*.py``.  Every import statement counts, function-level ones
  included, and relative imports are resolved against the importing
  module.  The package modules the walk does not reach are only reached
  by tests; they must be exactly ``TEST_ONLY_MODULES``.  So the check
  fails both when a new test-only module lands and when one is deleted
  (or becomes reachable) without shrinking the pin.
- *Top-level names.*  Every top-level function, class and assigned name
  in ``frogocr_spark/`` must be named somewhere outside its own
  definition: in the package, the tests, the tools, the pipeline
  benchmark, ``bench.py`` or ``__spark_entry__.py``.  A name is counted
  as a whole word anywhere in those ``.py`` files (code, strings and
  comments alike), less the occurrences inside the lines of its own
  definition, so a def that only calls itself or names itself in its
  docstring still counts as dead.  Dunder names (``__all__``,
  ``__version__``) are skipped.
- *Catalog methods.*  The top-level walk cannot see methods, so each
  method of the catalog's classes must be read as an attribute
  (``x.name``) in the code of a scanned file outside ``tests/``, less
  its own definition lines.  Two receivers name no catalog method: a
  module the file imports (``os.path.exists``), and ``self`` outside
  the class that defines the method.  So a same-named method of
  another class (``BucketedTable.processed_keys`` calling ``self.read()``)
  cannot keep a method alive that only tests call.
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
CATALOG = PACKAGE / "sources" / "catalog.py"
ROOTS = (
    [PACKAGE / "job.py", PACKAGE / "streaming" / "stream.py",
     REPO / "__spark_entry__.py", REPO / "bench.py"]
    + sorted((REPO / "perfbench").glob("*.py"))
    + sorted((REPO / "tools").glob("*.py")))

# operator and function families that only tests import (see ROADMAP
# item 5, which deletes them one family per change)
TEST_ONLY_MODULES = {
    *(f"frogocr_spark.operators.{m}" for m in ("analytics", "layout", "ml")),
    "frogocr_spark.functions.urls",
}


def _sources() -> dict[Path, str]:
    paths = [p for d in SCANNED_DIRS for p in (REPO / d).rglob("*.py")
             if "__pycache__" not in p.parts]
    paths += [REPO / f for f in SCANNED_FILES]
    return {p: p.read_text(encoding="utf-8") for p in paths}


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


def _own_matches(pattern: re.Pattern, node: ast.AST, lines: list[str]):
    """Counts of ``pattern``'s matches in the lines of ``node``'s
    definition, decorators included."""
    start = min([node.lineno] + [d.lineno for d in
                                 getattr(node, "decorator_list", [])])
    return Counter(pattern.findall("\n".join(lines[start - 1:node.end_lineno])))


def _attribute_uses(src: str) -> list[tuple[int, bool, str]]:
    """``(line, on self, name)`` of each attribute read in ``src``'s code,
    less those of the modules the file imports."""
    tree = ast.parse(src)
    modules = {a.asname or a.name.split(".")[0] for node in ast.walk(tree)
               if isinstance(node, ast.Import) for a in node.names}
    uses = []
    for node in ast.walk(tree):
        if not isinstance(node, ast.Attribute):
            continue
        root = node.value
        while isinstance(root, ast.Attribute):
            root = root.value
        if isinstance(root, ast.Name) and root.id in modules:
            continue
        on_self = isinstance(node.value, ast.Name) and node.value.id == "self"
        uses.append((node.lineno, on_self, node.attr))
    return uses


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
    counts = Counter(name for src in sources.values()
                     for _line, on_self, name in _attribute_uses(src)
                     if not on_self)
    catalog_uses = _attribute_uses(sources[CATALOG])
    unreferenced = []
    for cls in ast.parse(sources[CATALOG]).body:
        if not isinstance(cls, ast.ClassDef):
            continue
        for node in cls.body:
            if not isinstance(node, ast.FunctionDef) or (
                    node.name.startswith("__") and node.name.endswith("__")):
                continue
            own = range(node.lineno, node.end_lineno + 1)
            in_class = range(cls.lineno, cls.end_lineno + 1)
            mine = [(line in own, on_self)
                    for line, on_self, name in catalog_uses
                    if name == node.name and line in in_class]
            # less its own lines' reads; plus ``self.<name>`` in its class
            uses = (counts[node.name]
                    - sum(in_own and not on_self for in_own, on_self in mine)
                    + sum(on_self and not in_own for in_own, on_self in mine))
            if uses <= 0:
                unreferenced.append(f"{cls.name}.{node.name}")
    assert not unreferenced, (
        f"catalog methods no non-test file calls: {unreferenced}")

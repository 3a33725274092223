#!/usr/bin/env python
"""Name-based reachability over the package's top-level definitions.

Every top-level ``def``, ``class`` and single-name assignment in
``deepdoctection_spark/`` is a definition. A definition is reached when its
name is mentioned (as a ``Name``, an ``Attribute`` or an imported name) by a
root or by a reached definition. The roots are:

- every ``@register``-ed query;
- every definition in ``jobs/``, ``streaming/`` and ``analyzer.py``;
- every module-level statement that is neither a definition nor an import
  (``_zipcache.install()``, the table-building loops in ``kernels/aes.py``,
  ``__version__`` and other dunder assignments);
- every name that ``bench.py``, ``__spark_entry__.py``, ``scripts/`` or
  non-test ``perfbench/`` mentions.

Tests are never roots, so what the script reports is package code that
only tests reach, or nothing does. Matching is by name alone: two modules
that define one name are reached together, so the report errs towards
"reached".

    python scripts/reachability.py                  # unreached definitions
    python scripts/reachability.py --retire a,b,c   # lines a cut of queries a, b, c frees

``--retire`` drops the named queries from the roots and prints the
definitions that become unreached on top of those unreached already. A
module left with no reached definition counts whole, docstring and imports
included, since the cut deletes the file.
"""

from __future__ import annotations

import argparse
import ast
import sys
from pathlib import Path
from typing import NamedTuple

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "deepdoctection_spark"
ROOT_DIRS = ("jobs", "streaming")
ROOT_MODULES = ("analyzer.py",)


class Definition(NamedTuple):
    module: str  # path relative to the package, e.g. "plans/relational.py"
    name: str
    lines: int  # decorators included
    mentions: set[str]
    query: str | None  # the registered name, for @register-ed defs


def _mentions(node: ast.AST) -> set[str]:
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
    return out


def _registered_name(node: ast.AST) -> str | None:
    for deco in getattr(node, "decorator_list", ()):
        if (isinstance(deco, ast.Call) and isinstance(deco.func, ast.Name)
                and deco.func.id == "register" and deco.args
                and isinstance(deco.args[0], ast.Constant)):
            return deco.args[0].value
    return None


def _defined_name(node: ast.stmt) -> str | None:
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return node.name
    if isinstance(node, ast.Assign) and len(node.targets) == 1:
        target = node.targets[0]
    elif isinstance(node, ast.AnnAssign):
        target = node.target
    else:
        return None
    if isinstance(target, ast.Name) and not target.id.startswith("__"):
        return target.id
    return None


def scan_package() -> tuple[list[Definition], set[str]]:
    """Every top-level definition, and the names the roots that are not
    definitions (module-level statements, root modules) mention."""
    defs: list[Definition] = []
    root_mentions: set[str] = set()
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        is_root = rel.split("/", 1)[0] in ROOT_DIRS or rel in ROOT_MODULES
        for node in ast.parse(path.read_text(), filename=str(path)).body:
            name = _defined_name(node)
            if name is None:
                if not isinstance(node, (ast.Import, ast.ImportFrom)):
                    root_mentions |= _mentions(node)
                continue
            start = min([node.lineno] + [d.lineno for d in getattr(node, "decorator_list", ())])
            d = Definition(rel, name, node.end_lineno - start + 1,
                           _mentions(node), _registered_name(node))
            defs.append(d)
            if is_root:
                root_mentions |= d.mentions | {name}
    return defs, root_mentions


def program_mentions() -> set[str]:
    """Names that the programs outside the package mention."""
    files = [REPO / "bench.py", REPO / "__spark_entry__.py"]
    files += [p for p in sorted((REPO / "scripts").glob("*.py"))
              if p.resolve() != Path(__file__).resolve()]
    files += sorted((REPO / "perfbench").glob("*.py"))  # perfbench/tests/ excluded
    out: set[str] = set()
    for path in files:
        out |= _mentions(ast.parse(path.read_text(), filename=str(path)))
    return out


def unreached(retire: frozenset[str] = frozenset()) -> list[Definition]:
    """Definitions that no root reaches once the queries in ``retire`` are
    no longer roots."""
    defs, seed = scan_package()
    seed |= program_mentions()
    by_name: dict[str, list[Definition]] = {}
    for d in defs:
        by_name.setdefault(d.name, []).append(d)
    reached: set[int] = set()
    frontier = [d for d in defs if d.query is not None and d.query not in retire]
    frontier += [d for n in seed for d in by_name.get(n, ())]
    while frontier:
        d = frontier.pop()
        if id(d) in reached:
            continue
        reached.add(id(d))
        frontier += [e for n in d.mentions for e in by_name.get(n, ())]
    return [d for d in defs if id(d) not in reached]


def _by_module(defs: list[Definition]) -> dict[str, list[Definition]]:
    out: dict[str, list[Definition]] = {}
    for d in defs:
        out.setdefault(d.module, []).append(d)
    return out


def _report(defs: list[Definition], emptied: dict[str, int] | None = None) -> None:
    """Print ``defs`` by module; a module in ``emptied`` is counted as the
    given number of lines (the rest of its file) instead of its defs' sum."""
    emptied = emptied or {}
    total = 0
    for module, ds in sorted(_by_module(defs).items()):
        lines = emptied.get(module, sum(d.lines for d in ds))
        total += lines
        note = ", module left empty" if module in emptied else ""
        print(f"{module}: {lines} lines{note}")
        for d in ds:
            print(f"    {d.name} ({d.lines})")
    print(f"total: {total} lines in {len(defs)} definitions")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--retire", default="",
                    help="comma-separated query names to drop from the roots")
    args = ap.parse_args()
    retire = frozenset(n for n in args.retire.split(",") if n)
    dead = unreached()
    if not retire:
        _report(dead)
        return 0
    defs = scan_package()[0]
    unknown = sorted(retire - {d.query for d in defs})
    if unknown:
        print(f"not registered: {', '.join(unknown)}", file=sys.stderr)
        return 2
    already = {(d.module, d.name) for d in dead}
    after = unreached(retire)
    freed = [d for d in after if (d.module, d.name) not in already]
    all_defs = _by_module(defs)
    dead_after = _by_module(after)
    emptied = {
        module: len((PACKAGE / module).read_text().splitlines())
        - sum(d.lines for d in dead_after[module] if (d.module, d.name) in already)
        for module in _by_module(freed)
        if len(dead_after[module]) == len(all_defs[module])
    }
    _report(freed, emptied)
    return 0


if __name__ == "__main__":
    sys.exit(main())

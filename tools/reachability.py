"""List the package's top-level defs that no user path reaches.

    python tools/reachability.py

A name-level walk over ``check_datapackage_spark/``. The roots are:

* every line of ``queries.py`` and ``cli.py``;
* every module's top-level code outside its defs;
* every file under ``perfbench/`` and ``tools/``, and the ``bench*.py``
  scripts at the repository root.

A top-level ``def`` or ``class`` of the package is reached when its name
appears as a code token in a root or in the body of a def already
reached; the walk repeats until nothing new is reached. Source is read
with :mod:`tokenize`, so names inside strings and comments are not uses.
Import statements (including ``__init__.py``'s re-exports) bind names
without using them, so they are not uses either. A class is one unit:
reaching it reaches every method in its body.

Names are matched without their module, so two defs that share a name
are reached together: the walk can miss dead code but never reports
live code as dead. ``tests/test_reachability.py`` pins the output.

Prints one line per unreachable def, ``module.name  lines``, sorted by
module and line, then the total.
"""

from __future__ import annotations

import ast
import glob
import os
import sys
import tokenize

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "check_datapackage_spark"
#: package modules whose every line is a root
ROOT_MODULES = ("queries.py", "cli.py")


def _tokens(path: str) -> list[tuple[int, str]]:
    """``(line, name)`` of every NAME token in the file; strings and
    comments are tokens of their own, so their words are not here."""
    with open(path, encoding="utf-8") as f:
        toks = tokenize.generate_tokens(f.readline)
        return [(t.start[0], t.string) for t in toks if t.type == tokenize.NAME]


def _names(tokens: list[tuple[int, str]], lines=None) -> set[str]:
    return {name for line, name in tokens if lines is None or line in lines}


def _defs_and_roots(path: str):
    """Top-level defs of one module as ``(name, first, last)`` lines,
    and the line numbers of its top-level code that is neither a def
    nor an import."""
    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read(), path)
    defs, roots = [], set()
    for node in tree.body:
        first = min(
            [node.lineno] + [d.lineno for d in getattr(node, "decorator_list", [])]
        )
        span = range(first, node.end_lineno + 1)
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            defs.append((node.name, first, node.end_lineno))
        elif not isinstance(node, (ast.Import, ast.ImportFrom)):
            roots.update(span)
    return defs, roots


def unreachable(root: str = ROOT) -> dict[str, int]:
    """``{"<module>.<name>": line count}`` for every top-level def of the
    package that no root reaches; ``<module>`` is the dotted path below
    the package (``operators.text``)."""
    pkg = os.path.join(root, PACKAGE)
    used: set[str] = set()
    units = []  # (qualified name, bare name, tokens, def lines)
    for path in sorted(glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)):
        tokens = _tokens(path)
        rel = os.path.relpath(path, pkg)
        if rel in ROOT_MODULES:
            used |= _names(tokens)
            continue
        module = rel[: -len(".py")].replace(os.sep, ".").removesuffix(".__init__")
        defs, roots = _defs_and_roots(path)
        used |= _names(tokens, roots)
        for name, first, last in defs:
            units.append((f"{module}.{name}", name, tokens, range(first, last + 1)))
    scripts = (
        glob.glob(os.path.join(root, "perfbench", "**", "*.py"), recursive=True)
        + glob.glob(os.path.join(root, "tools", "**", "*.py"), recursive=True)
        + glob.glob(os.path.join(root, "bench*.py"))
    )
    for path in scripts:
        used |= _names(_tokens(path))
    pending = units
    while True:
        reached = [u for u in pending if u[1] in used]
        if not reached:
            break
        pending = [u for u in pending if u[1] not in used]
        for _, _, tokens, lines in reached:
            used |= _names(tokens, lines)
    return {q: len(lines) for q, _, _, lines in pending}


def main() -> int:
    dead = unreachable()
    for name, n in dead.items():
        print(f"{name:60s} {n:5d}")
    print(f"{len(dead)} unreachable defs, {sum(dead.values())} lines")
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Static-sanity lint over the whole package — the guard ordered after
round 12, where an end-of-round refactor deleted a helper
(``plans/compaction.py``'s local ``_fs``) but missed one call site, and
the dangling ``NameError`` shipped because nothing re-ran the suite.
This test is collection-fast (milliseconds per file, no Spark) and
fails the build the moment such a name lands:

- every ``.py`` file must ``compile()`` (syntax),
- every module must import (module-level runtime errors),
- no ``Name`` load may reference an identifier bound NOWHERE in its
  file (the dangling-name check — a deliberate over-approximation:
  the candidate set is the union of all bindings in every scope of
  the file plus builtins, so it can never false-positive on scoping
  subtleties, yet it catches exactly the deleted-helper bug class,
  where the name no longer exists anywhere in the file),
- no module-level import may be unused (referenced nowhere in the
  file, not re-exported via ``__all__``) — the dead ``jpath`` import
  the r12 refactor also left behind.  ``__init__.py`` files are
  exempt (imports there ARE the re-export surface),
- every ``from fstd2pandas_spark... import name`` in the callers
  OUTSIDE the package (``tools/*.py``, ``__spark_entry__.py``), at any
  scope, must resolve to a name the module defines — a tool or gate
  that imports a moved or deleted helper fails here, at collection
  speed, not at its next manual run,
- the interpreter-start hook (``_pyhook/sitecustomize.py``) may import
  only standard-library modules — it runs first in every Python
  process Spark starts, before pyspark or this package can be assumed
  importable there, so one such import would break every Python task.

The checker is itself tested against injected defects (a dangling
name, an unused import) so a silent checker regression cannot pass.
"""

from __future__ import annotations

import ast
import builtins
import importlib
import pathlib
import sys

import pytest

PKG_ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = PKG_ROOT / "fstd2pandas_spark"

#: names resolvable without any binding in the file
_AMBIENT = set(dir(builtins)) | {
    "__file__", "__name__", "__doc__", "__spec__", "__loader__",
    "__package__", "__builtins__", "__path__", "__debug__",
    "__annotations__", "__dict__", "__class__", "__module__",
    "__qualname__",
}


def _bound_names(tree: ast.AST) -> "set[str]":
    """Every identifier BOUND anywhere in the file, any scope, any
    branch: assignments, walrus, targets of for/with/except/match,
    def/class names, params, imports, global/nonlocal declarations."""
    bound: set[str] = set()

    def add_target(t: ast.AST) -> None:
        for n in ast.walk(t):
            if isinstance(n, ast.Name):
                bound.add(n.id)
            elif isinstance(n, ast.Starred):
                pass  # inner Name caught by the walk

    for node in ast.walk(tree):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.ClassDef)):
            bound.add(node.name)
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                a = node.args
                for arg in (a.posonlyargs + a.args + a.kwonlyargs
                            + ([a.vararg] if a.vararg else [])
                            + ([a.kwarg] if a.kwarg else [])):
                    bound.add(arg.arg)
        elif isinstance(node, ast.Lambda):
            a = node.args
            for arg in (a.posonlyargs + a.args + a.kwonlyargs
                        + ([a.vararg] if a.vararg else [])
                        + ([a.kwarg] if a.kwarg else [])):
                bound.add(arg.arg)
        elif isinstance(node, ast.Assign):
            for t in node.targets:
                add_target(t)
        elif isinstance(node, (ast.AnnAssign, ast.AugAssign)):
            add_target(node.target)
        elif isinstance(node, ast.NamedExpr):
            add_target(node.target)
        elif isinstance(node, (ast.For, ast.AsyncFor)):
            add_target(node.target)
        elif isinstance(node, (ast.With, ast.AsyncWith)):
            for item in node.items:
                if item.optional_vars is not None:
                    add_target(item.optional_vars)
        elif isinstance(node, ast.comprehension):
            add_target(node.target)
        elif isinstance(node, ast.ExceptHandler):
            if node.name:
                bound.add(node.name)
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            for alias in node.names:
                if alias.name == "*":
                    continue
                bound.add(alias.asname
                          or alias.name.split(".", 1)[0])
        elif isinstance(node, (ast.Global, ast.Nonlocal)):
            bound.update(node.names)
        elif isinstance(node, ast.MatchAs):
            if node.name:
                bound.add(node.name)
        elif isinstance(node, ast.MatchStar):
            if node.name:
                bound.add(node.name)
        elif isinstance(node, ast.MatchMapping):
            if node.rest:
                bound.add(node.rest)
    return bound


def _has_star_import(tree: ast.AST) -> bool:
    return any(isinstance(n, ast.ImportFrom)
               and any(a.name == "*" for a in n.names)
               for n in ast.walk(tree))


def dangling_names(src: str, filename: str = "<src>") -> "list[str]":
    """Identifiers LOADED somewhere but bound nowhere in the file
    (sorted, deduped). Empty on a file with a ``*`` import — we can't
    know what it binds."""
    tree = ast.parse(src, filename)
    if _has_star_import(tree):
        return []
    bound = _bound_names(tree) | _AMBIENT
    bad = sorted({
        n.id for n in ast.walk(tree)
        if isinstance(n, ast.Name)
        and isinstance(n.ctx, (ast.Load, ast.Del))
        and n.id not in bound})
    return bad


def _annotation_strings(tree: ast.AST) -> "set[str]":
    """Identifiers inside QUOTED annotations (``x: "list[Column]"``,
    ``-> "Callable[[DataFrame], DataFrame]"``) — real uses the Name
    walk can't see."""
    import re

    strs: list[str] = []

    def _tip(node) -> str:
        # rightmost identifier of a Name/Attribute chain
        if isinstance(node, ast.Attribute):
            return node.attr
        return node.id if isinstance(node, ast.Name) else ""

    def take(a):
        # walk the WHOLE annotation expression (partially-quoted forms
        # like Optional["Column"] nest the string below the top node),
        # but do NOT harvest VALUE strings: Literal["math"] and
        # Annotated metadata strings are data, not type references —
        # counting them as uses would silence the unused-import check
        # for a same-named import
        if a is None:
            return
        stack = [a]
        while stack:
            n = stack.pop()
            if isinstance(n, ast.Constant):
                if isinstance(n.value, str):
                    strs.append(n.value)
            elif isinstance(n, ast.Subscript) and \
                    _tip(n.value) == "Literal":
                stack.append(n.value)       # the Literal head only
            elif isinstance(n, ast.Subscript) and \
                    _tip(n.value) == "Annotated":
                stack.append(n.value)
                if isinstance(n.slice, ast.Tuple) and n.slice.elts:
                    stack.append(n.slice.elts[0])   # the type, not
                else:                               # the metadata
                    stack.append(n.slice)
            else:
                stack.extend(ast.iter_child_nodes(n))

    for n in ast.walk(tree):
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)):
            take(n.returns)
            args = n.args
            for arg in (args.posonlyargs + args.args + args.kwonlyargs
                        + ([args.vararg] if args.vararg else [])
                        + ([args.kwarg] if args.kwarg else [])):
                take(arg.annotation)
        elif isinstance(n, ast.AnnAssign):
            take(n.annotation)
    out: set[str] = set()
    for s in strs:
        out.update(re.findall(r"[A-Za-z_][A-Za-z_0-9]*", s))
    return out


def unused_imports(src: str, filename: str = "<src>") -> "list[str]":
    """MODULE-LEVEL imported names referenced nowhere else in the file
    (not as a bare Name, not inside a quoted annotation, not listed in
    ``__all__``). Exempt: underscore-prefixed aliases (the explicit
    'intentionally unused' spelling), ``__future__`` imports, and any
    import whose source line carries ``noqa`` (the re-export marker
    compat.py uses)."""
    tree = ast.parse(src, filename)
    lines = src.splitlines()
    imported: dict[str, int] = {}
    for node in tree.body:  # module level only
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            if isinstance(node, ast.ImportFrom) and \
                    node.module == "__future__":
                continue
            span = lines[node.lineno - 1:
                         (node.end_lineno or node.lineno)]
            if any("noqa" in ln for ln in span):
                continue
            for alias in node.names:
                if alias.name == "*":
                    continue
                name = alias.asname or alias.name.split(".", 1)[0]
                if not name.startswith("_"):
                    imported[name] = node.lineno
    if not imported:
        return []
    used: set[str] = _annotation_strings(tree)
    for n in ast.walk(tree):
        if isinstance(n, ast.Name):
            used.add(n.id)
        elif isinstance(n, ast.Assign):
            targets = [t.id for t in n.targets
                       if isinstance(t, ast.Name)]
            if "__all__" in targets:
                for c in ast.walk(n.value):
                    if isinstance(c, ast.Constant) and isinstance(
                            c.value, str):
                        used.add(c.value)
    return sorted(f"{name} (line {ln})"
                  for name, ln in imported.items() if name not in used)


def unresolved_package_imports(src: str,
                               filename: str = "<src>") -> "list[str]":
    """``from fstd2pandas_spark... import name`` statements, at any
    scope, whose module does not define ``name`` (as an attribute or a
    submodule) — or whose module does not exist."""
    tree = ast.parse(src, filename)
    bad: set[str] = set()
    for node in ast.walk(tree):
        if not (isinstance(node, ast.ImportFrom) and node.level == 0
                and node.module
                and node.module.split(".")[0] == PKG.name):
            continue
        try:
            mod = importlib.import_module(node.module)
        except ModuleNotFoundError:
            bad.add(f"{node.module} (line {node.lineno})")
            continue
        for alias in node.names:
            if alias.name == "*" or hasattr(mod, alias.name):
                continue
            try:
                importlib.import_module(f"{node.module}.{alias.name}")
            except ModuleNotFoundError:
                bad.add(f"{node.module}.{alias.name} (line {node.lineno})")
    return sorted(bad)


def nonstdlib_imports(src: str, filename: str = "<src>") -> "list[str]":
    """Imports, at any scope, of anything outside the standard library:
    a third-party or package module, or a relative import."""
    bad = []
    for n in ast.walk(ast.parse(src, filename)):
        if isinstance(n, ast.Import):
            names = [a.name for a in n.names]
        elif isinstance(n, ast.ImportFrom):
            names = ["." * n.level + (n.module
                                      or ", ".join(a.name for a in n.names))]
        else:
            continue
        bad += [f"{name} (line {n.lineno})" for name in names
                if name.split(".")[0] not in sys.stdlib_module_names]
    return sorted(bad)


def _py_files() -> "list[pathlib.Path]":
    return sorted(PKG.rglob("*.py"))


def test_package_has_files():
    assert len(_py_files()) > 20


def test_all_files_compile():
    for p in _py_files():
        compile(p.read_text(), str(p), "exec")


def test_all_modules_import():
    for p in _py_files():
        rel = p.relative_to(PKG_ROOT).with_suffix("")
        parts = list(rel.parts)
        if parts[-1] == "__init__":
            parts = parts[:-1]
        importlib.import_module(".".join(parts))


def test_no_dangling_names():
    problems = []
    for p in _py_files():
        bad = dangling_names(p.read_text(), str(p))
        if bad:
            problems.append(f"{p.relative_to(PKG_ROOT)}: {bad}")
    assert not problems, (
        "names loaded but bound NOWHERE in their file (the r12 "
        "compaction `_fs` bug class):\n" + "\n".join(problems))


def test_no_unused_module_level_imports():
    problems = []
    for p in _py_files():
        if p.name == "__init__.py":
            continue  # re-export surface
        bad = unused_imports(p.read_text(), str(p))
        if bad:
            problems.append(f"{p.relative_to(PKG_ROOT)}: {bad}")
    assert not problems, (
        "module-level imports referenced nowhere (dead API debris):\n"
        + "\n".join(problems))


def test_outside_callers_import_defined_names():
    callers = (sorted((PKG_ROOT / "tools").glob("*.py"))
               + [PKG_ROOT / "__spark_entry__.py"])
    assert len(callers) > 1
    problems = []
    for p in callers:
        bad = unresolved_package_imports(p.read_text(), str(p))
        if bad:
            problems.append(f"{p.relative_to(PKG_ROOT)}: {bad}")
    assert not problems, (
        "package names imported by tools / the entry module that the "
        "package no longer defines:\n" + "\n".join(problems))


def test_interpreter_hook_imports_only_the_stdlib():
    hook = PKG / "_pyhook" / "sitecustomize.py"
    assert nonstdlib_imports(hook.read_text(), str(hook)) == []


# ---- the checker is itself checked against injected defects ----

_INJECTED_DANGLING = '''
from fstd2pandas_spark.fsutil import hadoop_fs

def compact(spark, path):
    fs, _root = _fs(spark, path)   # deleted helper, dangling call site
    return fs
'''

_INJECTED_UNUSED = '''
import math
import uuid

def f(x):
    return math.sqrt(x)
'''

_CLEAN_TRICKY = '''
"""Scoping constructs that must NOT false-positive."""
import math
from typing import Annotated, Optional
from pyspark.sql import Column, DataFrame

def annotated(x: Optional["Column"],
              y: Annotated["DataFrame", "metadata"]) -> "list[Column]":
    return [x, y]


def outer(a, *args, k=1, **kw):
    total = [v * k for v in args if v > a]
    with open("x") as fh:
        data = fh.read()
    try:
        pass
    except ValueError as exc:
        data = str(exc)
    lam = lambda q: q + a
    (w := len(data))
    for i, (x, y) in enumerate(zip(total, total)):
        del x
    global GLOBAL_FLAG
    GLOBAL_FLAG = True
    return lam(w) + math.pi + i + y

class C:
    attr = 1
    def m(self):
        return self.attr
'''


def test_checker_catches_injected_dangling_name():
    assert dangling_names(_INJECTED_DANGLING) == ["_fs"]


_INJECTED_MOVED_HELPER = '''
from fstd2pandas_spark.operators.llm import _ann_kernels
from fstd2pandas_spark.operators.llm.similarity import cosine_col


def main():
    from fstd2pandas_spark.operators.llm.similarity import (
        _no_such_helper, lloyd_refine)
    from fstd2pandas_spark.no_such_module import anything
    return _ann_kernels, cosine_col, _no_such_helper, lloyd_refine, anything
'''


def test_checker_catches_moved_helper_import():
    assert unresolved_package_imports(_INJECTED_MOVED_HELPER) == [
        "fstd2pandas_spark.no_such_module (line 9)",
        "fstd2pandas_spark.operators.llm.similarity._no_such_helper "
        "(line 7)"]


def test_checker_catches_injected_unused_import():
    assert unused_imports(_INJECTED_UNUSED) == ["uuid (line 3)"]


_INJECTED_LITERAL_SHADOW = '''
import math
import uuid
from typing import Annotated, Literal

def f(mode: Literal["math"],
      note: Annotated[int, "uuid of the source"]) -> int:
    return mode is not None and note
'''


def test_checker_not_fooled_by_literal_value_strings():
    # Literal["math"] / Annotated metadata are DATA strings, not type
    # references — they must not mark same-named imports as used
    assert unused_imports(_INJECTED_LITERAL_SHADOW) == [
        "math (line 2)", "uuid (line 3)"]


def test_checker_clean_on_tricky_scoping():
    assert dangling_names(_CLEAN_TRICKY) == []
    assert unused_imports(_CLEAN_TRICKY) == []


_INJECTED_HOOK_IMPORTS = '''
import os
import os.path
from importlib import machinery
from . import session
import pyspark.daemon


def install():
    from fstd2pandas_spark.session import get_spark
    return get_spark
'''


def test_checker_catches_nonstdlib_hook_imports():
    assert nonstdlib_imports(_INJECTED_HOOK_IMPORTS) == [
        ".session (line 5)", "fstd2pandas_spark.session (line 10)",
        "pyspark.daemon (line 6)"]

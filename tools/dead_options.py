"""List the defaulted parameters under ``igpm_pem_spark/`` that no call site sets.

Usage::

    python tools/dead_options.py [PATH ...]

With no PATH every module under ``igpm_pem_spark/`` is reported; a PATH
(a file or a directory, relative to the repo root) restricts the report.
Call sites are read from every ``.py`` file in the repo: the package, the
tests, ``tools/``, ``perfbench/`` and ``__spark_entry__.py``.

The scan is an AST match by name, so it errs towards "set":

* a call ``f(...)`` or ``x.f(...)`` may set the parameters of every
  definition named ``f``; ``C(...)`` reaches ``C.__init__``;
* a positional argument sets the parameter at its index (``self`` / ``cls``
  of a method is skipped), a ``*args`` argument sets every positional one,
  and ``**kw`` forwarding sets every parameter;
* a keyword or positional argument whose value is just an enclosing
  function's own parameter, itself unset, sets nothing: ``resume=resume``
  forwards an option only as far as its callers set it. Unset options are
  found as the greatest fixpoint of that rule.

Prints ``path:line  function(param)`` per unset option and the count.
"""

from __future__ import annotations

import ast
import sys
from dataclasses import dataclass
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "igpm_pem_spark"


@dataclass
class _Def:
    path: str
    line: int
    qualname: str
    name: str  # the name a call site uses
    positional: list[str]  # self / cls dropped
    params: set[str]
    defaulted: set[str]
    node: ast.AST


def _sources() -> list[Path]:
    return sorted(
        p for p in ROOT.rglob("*.py")
        if not any(part.startswith(".") or part == "__pycache__"
                   for part in p.relative_to(ROOT).parts)
    )


def _parse(path: Path) -> ast.Module:
    return ast.parse(path.read_text(), filename=str(path))


def _defs(path: Path, tree: ast.Module) -> list[_Def]:
    rel = str(path.relative_to(ROOT))
    out: list[_Def] = []

    def visit(node: ast.AST, prefix: str, in_class: str | None) -> None:
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.ClassDef):
                visit(child, f"{prefix}{child.name}.", child.name)
            elif isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                a = child.args
                positional = [x.arg for x in a.posonlyargs + a.args]
                static = any(isinstance(d, ast.Name) and d.id == "staticmethod"
                             for d in child.decorator_list)
                if in_class and not static and positional:
                    positional = positional[1:]
                n_def = len(a.defaults)
                defaulted = set(positional[len(positional) - n_def:] if n_def else [])
                defaulted |= {k.arg for k, d in zip(a.kwonlyargs, a.kw_defaults)
                              if d is not None}
                name = child.name
                if in_class and name == "__init__":
                    name = in_class
                out.append(_Def(
                    rel, child.lineno, prefix + child.name, name, positional,
                    set(positional) | {k.arg for k in a.kwonlyargs},
                    defaulted, child,
                ))
                visit(child, f"{prefix}{child.name}.", None)
            else:
                visit(child, prefix, in_class)

    visit(tree, "", None)
    return out


@dataclass
class _Call:
    name: str
    node: ast.Call
    scopes: list[ast.AST]  # enclosing function defs, innermost first


def _calls(tree: ast.Module) -> list[_Call]:
    out: list[_Call] = []

    def visit(node: ast.AST, scopes: list[ast.AST]) -> None:
        for child in ast.iter_child_nodes(node):
            inner = scopes
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef,
                                  ast.Lambda)):
                inner = [child] + scopes
            if isinstance(child, ast.Call):
                f = child.func
                name = (f.id if isinstance(f, ast.Name)
                        else f.attr if isinstance(f, ast.Attribute) else None)
                if name is not None:
                    out.append(_Call(name, child, scopes))
            visit(child, inner)

    visit(tree, [])
    return out


def _binding(scopes: list[ast.AST], ident: str) -> ast.AST | None:
    """The innermost enclosing function that binds ``ident`` as a parameter."""
    for fn in scopes:
        a = fn.args
        if ident in {x.arg for x in a.posonlyargs + a.args + a.kwonlyargs}:
            return fn
    return None


def dead_options(paths: list[str] | None = None) -> list[tuple[str, int, str, str]]:
    """``(path, line, qualname, param)`` of every defaulted parameter under
    ``paths`` (default: the whole package) that no call site sets."""
    trees = {p: _parse(p) for p in _sources()}
    defs = [d for p, t in trees.items()
            if p.relative_to(ROOT).parts[0] == PACKAGE for d in _defs(p, t)]
    by_name: dict[str, list[_Def]] = {}
    for d in defs:
        by_name.setdefault(d.name, []).append(d)
    calls = [c for t in trees.values() for c in _calls(t) if c.name in by_name]
    dead = {(id(d.node), p) for d in defs for p in d.defaulted}

    def forwards_dead(value: ast.AST, scopes: list[ast.AST]) -> bool:
        if not isinstance(value, ast.Name):
            return False
        fn = _binding(scopes, value.id)
        return fn is not None and (id(fn), value.id) in dead

    changed = True
    while changed:
        changed = False
        for c in calls:
            for d in by_name[c.name]:
                setp: set[str] = set()
                for i, arg in enumerate(c.node.args):
                    if isinstance(arg, ast.Starred):
                        setp |= set(d.positional)
                    elif i < len(d.positional) and not forwards_dead(arg, c.scopes):
                        setp.add(d.positional[i])
                for kw in c.node.keywords:
                    if kw.arg is None:
                        setp |= d.params
                    elif not forwards_dead(kw.value, c.scopes):
                        setp.add(kw.arg)
                for p in setp & d.defaulted:
                    if (id(d.node), p) in dead:
                        dead.discard((id(d.node), p))
                        changed = True

    wanted = [str(Path(p)) for p in (paths or [PACKAGE])]
    out = []
    for d in defs:
        if not any(d.path == w or d.path.startswith(w.rstrip("/") + "/")
                   for w in wanted):
            continue
        out += [(d.path, d.line, d.qualname, p)
                for p in d.defaulted if (id(d.node), p) in dead]
    return sorted(out)


def main(argv: list[str]) -> int:
    found = dead_options(argv or None)
    for path, line, qualname, param in found:
        print(f"{path}:{line}  {qualname}({param})")
    print(f"{len(found)} defaulted parameter(s) that no call site sets")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

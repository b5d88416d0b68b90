#!/usr/bin/env python
"""Map source edits since a git ref to registered query names.

The correctness sweep re-checks 50 queries per round; a query whose
code or oracle SQL changed after its latest sweep row needs a fresh row
before its green evidence means anything.  This tool lists, for a git
ref, every ``@query(...)``-registered name whose *fingerprint* in the
worktree differs from its fingerprint at the ref (a name absent at the
ref counts as changed).

A query's fingerprint is built from
  * its function AST without docstrings or import statements, with each
    imported or module-alias name replaced by the bare name of the
    definition it binds (``IVF.ivf_topk`` -> ``ivf.ivf_topk``),
  * its decorator, so the oracle SQL is included,
  * every top-level function or constant of a ``queries*.py`` module
    it references, followed transitively (helpers, oracle constants and
    oracle builders, in the same module or imported from another one).

So moving a query, unchanged, to another module flags nothing, nor do
docstring, comment or import-path edits; an edit to a shared helper or
oracle constant flags every query that reaches it.  The walk stops at
the query-module boundary: edits under ``operators/``, ``streaming/``
or ``session.py`` are not attributed and must be added to
``EDITED_ROUND`` in ``queries.py`` by hand when they change
query-visible semantics.

The ref's tree is read with ``git show``; nothing is checked out.

Usage: ``python tools/edited_queries.py [ref]`` (default: the latest
"round N:" boundary commit).  Prints one query name per line.
"""
from __future__ import annotations

import ast
import copy
import fnmatch
import hashlib
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = "sync_cosmos_db_spark"


def _git(repo: Path, *args: str) -> str:
    return subprocess.run(["git", *args], cwd=repo, capture_output=True,
                          text=True, check=True).stdout


def round_boundary_ref(repo: Path = REPO) -> str:
    """The most recent round-boundary commit (``round N: ...``)."""
    out = _git(repo, "log", "--oneline", "--grep", "^round [0-9]*:",
               "-n", "1", "--format=%H").strip()
    if not out:
        raise SystemExit("no round-boundary commit found")
    return out


def query_sources(repo: Path, ref: str | None) -> dict[str, str]:
    """Module name -> source of every ``queries*.py`` module, in the
    worktree (``ref=None``) or at ``ref``."""
    if ref is None:
        return {p.stem: p.read_text()
                for p in sorted((repo / PKG).glob("queries*.py"))}
    listed = _git(repo, "ls-tree", "--name-only", ref, f"{PKG}/").split()
    return {Path(p).stem: _git(repo, "show", f"{ref}:{p}")
            for p in listed if fnmatch.fnmatch(Path(p).name, "queries*.py")}


def _import_aliases(nodes) -> dict[str, tuple[str, str | None]]:
    """local name -> (module, attribute or None) for the imports in
    ``nodes``."""
    out: dict[str, tuple[str, str | None]] = {}
    for node in nodes:
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.asname:
                    out[a.asname] = (a.name, None)
                else:
                    head = a.name.split(".")[0]
                    out[head] = (head, None)
        elif isinstance(node, ast.ImportFrom):
            for a in node.names:
                out[a.asname or a.name] = (node.module or "", a.name)
    return out


def _bare(target: tuple[str, str | None]) -> str:
    module, attr = target
    return attr if attr is not None else module.split(".")[-1]


def _query_module(target: tuple[str, str | None]) -> tuple[str, str | None]:
    """``(queries module, definition or None)`` an import binds, or
    ``("", None)`` when it binds nothing in a query module."""
    module, attr = target
    prefix = f"{PKG}."
    if module == PKG and attr and attr.startswith("queries"):
        return attr, None                  # from PKG import queries_x
    if module.startswith(prefix):
        rest = module[len(prefix):]
        if "." not in rest and rest.startswith("queries"):
            return rest, attr              # from PKG.queries_x import y
    return "", None


class _Normalize(ast.NodeTransformer):
    """Drop docstrings and imports; rename import aliases to the bare
    name of what they bind."""

    def __init__(self, aliases):
        self.aliases = aliases

    def _strip_doc(self, node):
        body = node.body
        if (body and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)):
            node.body = body[1:]
        self.generic_visit(node)
        return node

    visit_FunctionDef = visit_AsyncFunctionDef = visit_ClassDef = _strip_doc

    def visit_Import(self, node):
        return None

    visit_ImportFrom = visit_Import

    def visit_Name(self, node):
        if node.id in self.aliases:
            node.id = _bare(self.aliases[node.id])
        return node


class _Module:
    def __init__(self, name: str, source: str):
        self.name = name
        tree = ast.parse(source)
        self.defs: dict[str, ast.AST] = {}
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.ClassDef)):
                self.defs[node.name] = node
            elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = (node.targets if isinstance(node, ast.Assign)
                           else [node.target])
                for t in targets:
                    if isinstance(t, ast.Name):
                        self.defs[t.id] = node
        self.aliases = _import_aliases(tree.body)

    def registered(self) -> dict[str, str]:
        """query name -> function name of every ``@query(...)`` def."""
        out = {}
        for fn in self.defs.values():
            for dec in getattr(fn, "decorator_list", []):
                if (isinstance(dec, ast.Call)
                        and isinstance(dec.func, ast.Name)
                        and dec.func.id == "query" and dec.args
                        and isinstance(dec.args[0], ast.Constant)):
                    out[dec.args[0].value] = fn.name
        return out

    def normalized(self, name: str) -> tuple[str, set[tuple[str, str]]]:
        """The normalized dump of top-level definition ``name`` and the
        ``(module, definition)`` pairs it references."""
        node = self.defs[name]
        aliases = {**self.aliases,
                   **_import_aliases(n for n in ast.walk(node)
                                     if isinstance(n, (ast.Import,
                                                       ast.ImportFrom)))}
        bound = set()
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            for n in ast.walk(node):
                if isinstance(n, ast.arg):
                    bound.add(n.arg)
                elif isinstance(n, ast.Name) and isinstance(n.ctx, ast.Store):
                    bound.add(n.id)
                elif (n is not node and isinstance(
                        n, (ast.FunctionDef, ast.AsyncFunctionDef))):
                    bound.add(n.name)
        refs: set[tuple[str, str]] = set()
        for n in ast.walk(node):
            if isinstance(n, ast.Attribute) and isinstance(n.value, ast.Name):
                mod, attr = _query_module(aliases.get(n.value.id, ("", None)))
                if mod and attr is None:
                    refs.add((mod, n.attr))
            if not isinstance(n, ast.Name) or n.id in bound or n.id == name:
                continue
            if n.id in aliases:
                mod, attr = _query_module(aliases[n.id])
                if mod and attr:
                    refs.add((mod, attr))
            elif n.id in self.defs:
                refs.add((self.name, n.id))
        dump = ast.dump(_Normalize(aliases).visit(copy.deepcopy(node)))
        return dump, refs


def fingerprints(sources: dict[str, str]) -> dict[str, str]:
    """query name -> fingerprint over the modules in ``sources``."""
    mods = {name: _Module(name, src) for name, src in sources.items()}
    cache: dict[tuple[str, str], tuple[str, set]] = {}
    out: dict[str, str] = {}
    for mod in mods.values():
        for qname, fn in mod.registered().items():
            seen: dict[tuple[str, str], str] = {}
            stack = [(mod.name, fn)]
            while stack:
                key = stack.pop()
                if key in seen or key[1] not in getattr(
                        mods.get(key[0]), "defs", {}):
                    continue
                if key not in cache:
                    cache[key] = mods[key[0]].normalized(key[1])
                seen[key], refs = cache[key]
                stack.extend(refs)
            # keyed by bare definition name, never by module: a move
            # between query modules leaves the fingerprint unchanged
            parts = sorted((k[1], d) for k, d in seen.items()
                           if k != (mod.name, fn))
            h = hashlib.sha256(seen[(mod.name, fn)].encode())
            for name, dump in parts:
                h.update(f"\0{name}\0{dump}".encode())
            out[qname] = h.hexdigest()
    return out


def edited_queries(ref: str, repo: Path = REPO) -> list[str]:
    """Registered names whose worktree fingerprint differs from the one
    at ``ref``, in worktree module order."""
    base = fingerprints(query_sources(repo, ref))
    now = fingerprints(query_sources(repo, None))
    return [n for n, fp in now.items() if base.get(n) != fp]


if __name__ == "__main__":
    ref = sys.argv[1] if len(sys.argv) > 1 else round_boundary_ref()
    for name in edited_queries(ref):
        print(name)

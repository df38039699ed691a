"""Per-vintage staleness audit for the driver correctness record.

The driver records a 50-query prefix of ``queries()`` per round
(``CORRECTNESS_r{N}.json``); a query's *record vintage* is the latest
round in which it appears. A record is STALE when the query's body (or
a module-local helper it calls, or its oracle SQL) changed after the
commit at which that vintage was recorded — the standing green row then
certifies code that no longer exists.

Round 12's rotation diffed every body against ONE base commit (the r11
record, 0abaadd) and missed three queries whose r8-vintage records had
gone stale *before* r11 (q_similarity_join_shuffled's occupancy-aware
LSH rework among them). The correct invariant — implemented here — is
per-query: compare each query's normalized AST at HEAD against the
commit of *its own* record vintage.

Normalization: parse the operator module at each commit, locate the
``@query("name", oracle)`` function, strip docstrings, then take the
transitive closure of module-local helpers (functions and module-level
constants referenced by name) and ``ast.dump`` the lot. Comments vanish
in parsing; docstring/comment-only edits therefore do not flag. The
closure is module-local by design: shared infrastructure (tables.py,
session.py) is exercised by every query, so a change there invalidates
the whole record and is visible in the round diff without this tool.

Usage:
    python tools/staleness.py          # human-readable audit
    python tools/staleness.py --json   # machine-readable

``tests/test_staleness.py`` recomputes this audit and fails when any
stale query is missing from ``registry._PRIORITY``'s 50-slot prefix —
the structural fix for the class of bookkeeping miss found in r12.
"""

from __future__ import annotations

import ast
import glob
import json
import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: Engine code at record-vintage N == the driver's "round N" commit
#: (the driver commits CORRECTNESS_r{N}.json on top of the round's
#: final code state, touching no engine files).
RECORD_COMMITS = {
    8: "d3b8044",
    9: "48eecbf",
    10: "226a8be",
    11: "0abaadd",
    12: "cf67d0d",
    13: "0d9b6f0",
    14: "04b1608",
    15: "70ec21e",
    16: "561822a",
}

#: Modules that register queries (mirrors registry._OPERATOR_MODULES).
_MODULE_PATHS = (
    "pandas_reporter_spark/operators/census_queries.py",
    "pandas_reporter_spark/operators/relational.py",
    "pandas_reporter_spark/operators/dedup.py",
    "pandas_reporter_spark/operators/text.py",
    "pandas_reporter_spark/operators/similarity.py",
    "pandas_reporter_spark/operators/events.py",
    "pandas_reporter_spark/operators/multimodal.py",
    "pandas_reporter_spark/operators/scale.py",
    "pandas_reporter_spark/operators/sketch.py",
    "pandas_reporter_spark/operators/graph.py",
    "pandas_reporter_spark/sources/queries.py",
)


def record_vintages() -> dict[str, int]:
    """query name -> latest round with an official driver record."""
    vint: dict[str, int] = {}
    for f in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        rnd = int(re.search(r"_r(\d+)\.json$", f).group(1))
        for name in json.load(open(f)):
            vint[name] = max(vint.get(name, 0), rnd)
    return vint


def _source_at(commit: str | None, path: str) -> str | None:
    """File contents at a commit, or working tree when commit is None."""
    if commit is None:
        p = os.path.join(REPO, path)
        return open(p).read() if os.path.exists(p) else None
    r = subprocess.run(
        ["git", "show", f"{commit}:{path}"],
        cwd=REPO, capture_output=True, text=True,
    )
    return r.stdout if r.returncode == 0 else None


class _Strip(ast.NodeTransformer):
    """Drop docstrings so doc-only edits don't flag."""

    def _strip(self, node):
        self.generic_visit(node)
        if (node.body and isinstance(node.body[0], ast.Expr)
                and isinstance(node.body[0].value, ast.Constant)
                and isinstance(node.body[0].value.value, str)):
            node.body = node.body[1:] or [ast.Pass()]
        return node

    visit_FunctionDef = visit_AsyncFunctionDef = visit_ClassDef = visit_Module = _strip


def _query_name(fn: ast.FunctionDef) -> str | None:
    for dec in fn.decorator_list:
        if (isinstance(dec, ast.Call) and isinstance(dec.func, ast.Name)
                and dec.func.id == "query" and dec.args
                and isinstance(dec.args[0], ast.Constant)):
            return dec.args[0].value
    return None


#: module name -> repo path, for resolving cross-module operator
#: imports inside query closures. Shared infrastructure (tables.py,
#: session.py, registry.py, functions/*) is deliberately EXCLUDED:
#: every query depends on it, so a change there invalidates the whole
#: record and is visible in the round diff without this tool — and
#: including it would flag all 200+ queries on any tables.py edit.
_MODULE_BY_NAME = {
    p[:-3].replace("/", "."): p for p in _MODULE_PATHS
}


def _module_index(src: str):
    """(query name -> FunctionDef, top-level name -> node,
    import alias -> (module, remote name)) for one module."""
    tree = _Strip().visit(ast.parse(src))
    queries: dict[str, ast.FunctionDef] = {}
    toplevel: dict[str, ast.AST] = {}
    imports: dict[str, tuple[str, str]] = {}
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            toplevel[node.name] = node
            if isinstance(node, ast.FunctionDef):
                qn = _query_name(node)
                if qn:
                    queries[qn] = node
        elif isinstance(node, ast.Assign):
            for t in node.targets:
                if isinstance(t, ast.Name):
                    toplevel[t.id] = node
        elif isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
            toplevel[node.target.id] = node
    # import aliases, wherever they appear (the repo does worker-side
    # imports inside function bodies)
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module in _MODULE_BY_NAME:
            for alias in node.names:
                imports[alias.asname or alias.name] = (
                    node.module, alias.name,
                )
    return queries, toplevel, imports


class _Snapshot:
    """Closure dumps against one commit, with cross-module resolution:
    a name imported from another operator module pulls THAT module's
    definition (and its own transitive closure) into the dump, so a
    helper change anywhere in the operator package flags every query
    that reaches it — the r12 miss-class, closed across module
    boundaries too."""

    def __init__(self, commit: str | None):
        self.commit = commit
        self._mods: dict[str, tuple] = {}

    def _module(self, path: str):
        if path not in self._mods:
            src = _source_at(self.commit, path)
            self._mods[path] = _module_index(src) if src is not None else None
        return self._mods[path]

    def closure_dump(self, fn: ast.AST, path: str) -> str:
        seen: dict[str, ast.AST] = {}
        stack: list[tuple[ast.AST, str]] = [(fn, path)]
        while stack:
            node, npath = stack.pop()
            mod = self._module(npath)
            if mod is None:
                continue
            _, toplevel, imports = mod
            for sub in ast.walk(node):
                if not isinstance(sub, ast.Name):
                    continue
                if sub.id in toplevel:
                    key = f"{npath}:{sub.id}"
                    if key not in seen:
                        seen[key] = toplevel[sub.id]
                        stack.append((toplevel[sub.id], npath))
                elif sub.id in imports:
                    rmod, rname = imports[sub.id]
                    rpath = _MODULE_BY_NAME[rmod]
                    remote = self._module(rpath)
                    if remote and rname in remote[1]:
                        key = f"{rpath}:{rname}"
                        if key not in seen:
                            seen[key] = remote[1][rname]
                            stack.append((remote[1][rname], rpath))
        parts = [ast.dump(fn)]
        parts += [f"{k}={ast.dump(v)}" for k, v in sorted(seen.items())]
        return "\n".join(parts)


def snapshot(commit: str | None) -> dict[str, str]:
    """query name -> normalized closure dump at a commit (None = HEAD tree)."""
    out: dict[str, str] = {}
    snap = _Snapshot(commit)
    for path in _MODULE_PATHS:
        mod = snap._module(path)
        if mod is None:
            continue
        queries, _, _ = mod
        for qn, fn in queries.items():
            out[qn] = snap.closure_dump(fn, path)
    return out


def audit() -> dict:
    """Compare HEAD against each query's own record-vintage commit."""
    vint = record_vintages()
    head = snapshot(None)
    per_commit: dict[int, dict[str, str]] = {}
    stale, unrecorded, missing_at_vintage = [], [], []
    for name, dump in sorted(head.items()):
        rnd = vint.get(name)
        if rnd is None:
            unrecorded.append(name)
            continue
        commit = RECORD_COMMITS.get(rnd)
        if commit is None:  # pre-r8 vintage: always stale (no commit map)
            stale.append({"query": name, "vintage": rnd, "reason": "pre-r8 record"})
            continue
        if rnd not in per_commit:
            per_commit[rnd] = snapshot(commit)
        old = per_commit[rnd].get(name)
        if old is None:
            missing_at_vintage.append({"query": name, "vintage": rnd})
        elif old != dump:
            stale.append({"query": name, "vintage": rnd, "commit": commit})
    return {
        "vintages": {str(r): sum(1 for v in vint.values() if v == r)
                     for r in sorted(set(vint.values()))},
        "stale": stale,
        "unrecorded": unrecorded,
        "missing_at_vintage": missing_at_vintage,
    }


if __name__ == "__main__":
    res = audit()
    if "--json" in sys.argv:
        print(json.dumps(res, indent=1))
    else:
        print("vintage counts:", res["vintages"])
        print(f"\nstale records ({len(res['stale'])}):")
        for s in res["stale"]:
            print(f"  {s['query']}  (record r{s['vintage']})")
        if res["unrecorded"]:
            print(f"\nnever recorded ({len(res['unrecorded'])}):")
            for n in res["unrecorded"]:
                print(f"  {n}")
        if res["missing_at_vintage"]:
            print("\nWARNING: recorded but not parseable at vintage commit:")
            for s in res["missing_at_vintage"]:
                print(f"  {s['query']} (r{s['vintage']})")

"""Static check that the package declares what the engine imports.

Every third-party top-level module imported under
``pandas_reporter_spark/`` must be a ``[project] dependencies`` entry of
``pyproject.toml``: an install from the package metadata then has all
of them. Standard-library names come from ``sys.stdlib_module_names``;
``py4j`` ships with ``pyspark``. An import inside a ``try`` that
catches ``ImportError`` is an optional probe (the engine runs without
the module) and needs no entry.
"""

from __future__ import annotations

import ast
import os
import re
import sys
import tomllib

REPO = os.path.join(os.path.dirname(__file__), "..")
ENGINE = os.path.join(REPO, "pandas_reporter_spark")

#: modules provided by another declared distribution
_PROVIDED_BY = {"py4j": "pyspark"}


def _optional_imports(tree) -> set[int]:
    """ids of the import nodes guarded by an ``except ImportError``."""
    out = set()
    for node in ast.walk(tree):
        if not isinstance(node, ast.Try):
            continue
        caught = set()
        for h in node.handlers:
            types = h.type.elts if isinstance(h.type, ast.Tuple) else [h.type]
            caught |= {t.id for t in types if isinstance(t, ast.Name)}
        if caught & {"ImportError", "ModuleNotFoundError"}:
            out |= {
                id(n)
                for stmt in node.body
                for n in ast.walk(stmt)
                if isinstance(n, (ast.Import, ast.ImportFrom))
            }
    return out


def _third_party_imports() -> dict[str, str]:
    """top-level module -> first engine file importing it."""
    found: dict[str, str] = {}
    for d, _, files in os.walk(ENGINE):
        for f in sorted(files):
            if not f.endswith(".py"):
                continue
            p = os.path.join(d, f)
            tree = ast.parse(open(p).read())
            optional = _optional_imports(tree)
            for node in ast.walk(tree):
                if id(node) in optional:
                    continue
                if isinstance(node, ast.Import):
                    mods = [a.name for a in node.names]
                elif isinstance(node, ast.ImportFrom) and node.level == 0:
                    mods = [node.module]
                else:
                    continue
                for m in mods:
                    top = m.split(".")[0]
                    if top not in sys.stdlib_module_names and top != "pandas_reporter_spark":
                        found.setdefault(top, os.path.relpath(p, REPO))
    return found


def test_every_engine_import_is_a_declared_dependency():
    with open(os.path.join(REPO, "pyproject.toml"), "rb") as fh:
        deps = tomllib.load(fh)["project"]["dependencies"]
    declared = {re.match(r"[A-Za-z0-9_.-]+", d).group(0).lower() for d in deps}
    imports = _third_party_imports()
    assert {"numpy", "pandas", "pyarrow", "pyspark"} <= set(imports), imports
    missing = {
        m: where
        for m, where in imports.items()
        if _PROVIDED_BY.get(m, m).lower() not in declared
    }
    assert not missing, f"imported but not in pyproject dependencies: {missing}"

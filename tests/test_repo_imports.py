"""Repo hygiene: every import of a repo module resolves to a tracked file.

Deleting a script or module that something else still imports shows up
only when that importer runs (for a bench script, maybe never in CI).
This test AST-parses every git-tracked ``.py`` outside ``tests/`` and
checks each import of a repo module: ``apache___solr_spark.*``, a
top-level script (``__spark_entry__``, ``bench``, ...) or a sibling of
the importing script (``perfbench/run.py`` imports ``report``).  A name
that is stdlib or installed outside the repo is not a repo import.
``from <module> import name`` must also name something the module binds:
a private helper deleted from one module fails here, not when the
function that imports it first runs.  No Spark is started.
"""

from __future__ import annotations

import ast
import os
import subprocess
import sys
from importlib.machinery import PathFinder

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "apache___solr_spark"
# sys.path without the repo itself, so repo modules are not "installed"
_OUTSIDE = [
    p for p in sys.path if os.path.abspath(p or os.curdir) != REPO
]


def _tracked_sources() -> list[str]:
    try:
        out = subprocess.run(
            ["git", "ls-files", "*.py"],
            cwd=REPO,
            capture_output=True,
            text=True,
            check=True,
        ).stdout
    except (OSError, subprocess.CalledProcessError):
        pytest.skip("not a git checkout")
    # a tracked file deleted from the work tree is not a source any more
    return [
        f
        for f in out.split()
        if not f.startswith("tests/") and os.path.isfile(os.path.join(REPO, f))
    ]


def _is_repo_import(top: str) -> bool:
    if top == PACKAGE:
        return True
    if top in sys.stdlib_module_names:
        return False
    # PathFinder, not importlib.util.find_spec: the latter answers from
    # sys.modules, where conftest has already put the package
    return PathFinder.find_spec(top, _OUTSIDE) is None


def _module_file(dotted: str, bases: list[str]) -> str | None:
    rel = os.path.join(*dotted.split("."))
    for base in bases:
        for cand in (rel + ".py", os.path.join(rel, "__init__.py")):
            path = os.path.join(base, cand)
            if os.path.isfile(path):
                return path
    return None


def _bound_names(path: str) -> set[str] | None:
    """Names bound at the top level of a module or package ``__init__``
    (also under top-level if/try/with blocks); None when a star import
    makes the set open-ended."""
    names: set[str] = set()
    stack = list(ast.parse(open(path).read()).body)
    while stack:
        node = stack.pop()
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            for a in node.names:
                if a.name == "*":
                    return None
                names.add(a.asname or a.name.split(".")[0])
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                names.update(n.id for n in ast.walk(t) if isinstance(n, ast.Name))
        elif isinstance(node, (ast.If, ast.Try, ast.With)):
            stack.extend(node.body)
            stack.extend(getattr(node, "orelse", []))
            stack.extend(getattr(node, "finalbody", []))
            for h in getattr(node, "handlers", []):
                stack.extend(h.body)
    return names


def _unresolved(rel_path: str) -> list[str]:
    path = os.path.join(REPO, rel_path)
    here = os.path.dirname(path)
    # a script run as ``python dir/x.py`` has dir/ on sys.path; the repo
    # root is on it for the package and the top-level scripts
    bases = [REPO] if here == REPO else [REPO, here]
    missing = []
    for node in ast.walk(ast.parse(open(path).read(), rel_path)):
        if isinstance(node, ast.Import):
            for a in node.names:
                if _is_repo_import(a.name.split(".")[0]) and not _module_file(
                    a.name, bases
                ):
                    missing.append(f"{rel_path}:{node.lineno} import {a.name}")
            continue
        if not isinstance(node, ast.ImportFrom):
            continue
        if node.level:
            # relative: resolve against the importing file's package dir
            base = here
            for _ in range(node.level - 1):
                base = os.path.dirname(base)
            mod, mod_bases = node.module or "", [base]
        elif _is_repo_import(node.module.split(".")[0]):
            mod, mod_bases = node.module, bases
        else:
            continue
        target = (
            _module_file(mod, mod_bases)
            if mod
            else os.path.join(base, "__init__.py")
        )
        label = f"{rel_path}:{node.lineno} from {'.' * node.level}{mod}"
        if target is None or not os.path.isfile(target):
            missing.append(label)
            continue
        # from <module> import name: a name the module binds; from
        # <package> import name: that, or a submodule file
        bound = _bound_names(target)
        is_pkg = os.path.basename(target) == "__init__.py"
        for a in node.names:
            if a.name == "*" or bound is None or a.name in bound:
                continue
            if not (is_pkg and _module_file(a.name, [os.path.dirname(target)])):
                missing.append(f"{label} import {a.name}")
    return missing


def test_repo_imports_resolve():
    sources = _tracked_sources()
    assert any(f.startswith(PACKAGE + "/") for f in sources)
    missing = [m for f in sources for m in _unresolved(f)]
    assert not missing, "imports of repo modules with no file:\n" + "\n".join(
        missing
    )

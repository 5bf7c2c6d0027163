"""Every top-level def in the engine package is reached from code that
ships, or is named on a short allowlist with its reason.

AST-only (no Spark session, nothing imported). Roots are the module-level
code of every package module (the registry's ``register(...)`` calls
among it), ``__spark_entry__.py``, ``bench.py``, ``tools/`` and
``perfbench/``. A def is reached when a reached scope names it; names are
resolved through each module's ``import ... as`` aliases and matched by
def name across the package, so the check may over-count (a shared name
reaches every def of that name) but never flags a def a root calls.
Tests are not roots: a def only tests call is a second copy of behaviour
that ships, or dead code, unless it is a reference implementation on the
allowlist."""

from __future__ import annotations

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "mapreduce_simulation_spark")
# The protobuf shim is imported as ``google.protobuf`` by pyspark, not by
# name from the engine, so its defs are outside this census.
EXCLUDED = (os.path.join(PACKAGE, "vendor", "pypath"),)
ROOT_PATHS = ("__spark_entry__.py", "bench.py", "tools", "perfbench")
# Decorators that register the def by side effect at import.
REGISTERING_DECORATORS = {"atexit.register"}

ALLOWLIST = {
    "_md5_mod": "scalar reference for the column hash _md5_mod_col",
    "write_part_files": "reference part-file sink the partition-placement "
    "tests compare the pipe's output layout against",
    "write_training_shards": "shard export whose one-file-per-shard layout "
    "the sequence-packing tests check",
    "_bpe_merge_step": "window-formulation reference for the live "
    "_bpe_fold_rule",
    "forget_session": "drops memoized plans so plan-shape tests see an "
    "unexecuted plan",
}


def _py_files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    out = []
    for d, _dirs, files in os.walk(path):
        if d.startswith(EXCLUDED):
            continue
        out.extend(os.path.join(d, f) for f in files if f.endswith(".py"))
    return sorted(out)


def _aliases(tree: ast.Module) -> dict[str, str]:
    """``asname -> name`` for every ``from x import name as asname``."""
    return {
        a.asname: a.name
        for node in ast.walk(tree)
        if isinstance(node, ast.ImportFrom)
        for a in node.names
        if a.asname
    }


def _names(nodes, aliases: dict[str, str]) -> set[str]:
    """Identifiers the code under ``nodes`` refers to (plain names and
    attribute names), with import aliases resolved."""
    out = set()
    for top in nodes:
        for node in ast.walk(top):
            if isinstance(node, ast.Name):
                out.add(aliases.get(node.id, node.id))
            elif isinstance(node, ast.Attribute):
                out.add(node.attr)
    return out


def _decorator_name(node: ast.expr) -> str:
    return ast.unparse(node.func if isinstance(node, ast.Call) else node)


def census() -> tuple[dict[str, list[str]], set[str]]:
    """({def name: [its modules]}, names of the reached defs)."""
    defs: dict[str, list[tuple[str, ast.AST, dict[str, str]]]] = {}
    frontier: set[str] = set()
    for path in _py_files(PACKAGE):
        tree = ast.parse(open(path).read(), path)
        aliases = _aliases(tree)
        rel = os.path.relpath(path, ROOT)
        body = []
        for node in tree.body:
            if isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                defs.setdefault(node.name, []).append((rel, node, aliases))
                if any(
                    _decorator_name(d) in REGISTERING_DECORATORS
                    for d in node.decorator_list
                ):
                    frontier.add(node.name)
            else:
                body.append(node)
        frontier |= _names(body, aliases)
    for root in ROOT_PATHS:
        for path in _py_files(os.path.join(ROOT, root)):
            tree = ast.parse(open(path).read(), path)
            frontier |= _names([tree], _aliases(tree))
    reached: set[str] = set()
    while frontier:
        name = frontier.pop()
        if name in reached or name not in defs:
            continue
        reached.add(name)
        for _rel, node, aliases in defs[name]:
            frontier |= _names([node], aliases) - reached
    return {n: [rel for rel, _, _ in d] for n, d in defs.items()}, reached


def test_every_engine_def_is_reached_or_allowlisted():
    defs, reached = census()
    unreached = sorted(
        f"{rel}:{name}"
        for name, rels in defs.items()
        if name not in reached and name not in ALLOWLIST
        for rel in rels
    )
    assert not unreached, (
        "defs that no query, entry point, tool or benchmark reaches; "
        "delete them, point their tests at the code that ships, or "
        "allowlist a reference implementation with its reason:\n  "
        + "\n  ".join(unreached)
    )


def test_allowlist_names_only_defs_that_need_it():
    """An allowlisted def that is gone or now reached is a stale entry."""
    defs, reached = census()
    stale = sorted(
        n for n in ALLOWLIST if n not in defs or n in reached
    )
    assert not stale, stale

"""Guard: the iterative operators share one lineage policy.

``pipeline/graph.py`` owns it: ``_default_materialize`` holds the one
checkpoint-dir check and the only ``checkpoint``/``localCheckpoint``
calls; ``_truncate`` (fixed-count rounds), ``_checkpoint_any`` (rounds
with a stop test) and ``_broadcast_bounded`` (with ``BROADCAST_MAX_ROWS``)
build on it. An operator that takes a ``materialize=`` override, or a
loop that spells the policy out again, is a second code path next to the
default one. Pure AST scan, no Spark.
"""

import ast
import functools
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
_POLICY = ("gos2_spark/pipeline/graph.py", "_default_materialize")


@functools.cache
def _engine_trees():
    paths = [ROOT / "__spark_entry__.py", *sorted((ROOT / "gos2_spark").rglob("*.py"))]
    trees = []
    for path in paths:
        rel = path.relative_to(ROOT).as_posix()
        trees.append((rel, ast.parse(path.read_text(), filename=rel)))
    return trees


def _walk_with_function(tree):
    """(node, name of the enclosing top-level function or None)."""
    for top in tree.body:
        owner = top.name if isinstance(top, (ast.FunctionDef, ast.AsyncFunctionDef)) else None
        for node in ast.walk(top):
            yield node, owner


def test_no_operator_takes_materialize():
    hits = []
    for rel, tree in _engine_trees():
        for node in ast.walk(tree):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
                a = node.args
                names = [x.arg for x in a.posonlyargs + a.args + a.kwonlyargs]
                if "materialize" in names:
                    hits.append(f"{rel}:{node.lineno}")
    assert not hits, "functions taking materialize=:\n" + "\n".join(hits)


def test_checkpoints_only_in_the_policy_helper():
    stray, dir_checks = [], []
    for rel, tree in _engine_trees():
        for node, owner in _walk_with_function(tree):
            if not isinstance(node, ast.Attribute):
                continue
            where = f"{rel}:{node.lineno} {node.attr}"
            if node.attr == "getCheckpointDir":
                dir_checks.append(where)
            if node.attr in ("checkpoint", "localCheckpoint", "getCheckpointDir") and (
                rel,
                owner,
            ) != _POLICY:
                stray.append(where)
    assert not stray, "checkpoint policy spelled out again:\n" + "\n".join(stray)
    assert len(dir_checks) == 1, dir_checks


def test_broadcast_bound_defined_once():
    hits = [
        f"{rel}:{node.lineno}"
        for rel, tree in _engine_trees()
        for node in ast.walk(tree)
        if isinstance(node, ast.Constant)
        and type(node.value) is int
        and node.value == 4_000_000
    ]
    assert len(hits) == 1, hits

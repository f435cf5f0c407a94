"""Every lake write lands through ONE commit path, and admits its
batch by ONE column-set and type rule.

``LakeTable._commit`` owns the version choice, txn dedup, the
``remove_dv`` record, the O_EXCL gate with its bounded blind retries
and the reclaim of staged files. This guard keeps it the only caller
of ``_write_commit`` in the package sources, and keeps commit retries
out of the writers (``with_occ_retry`` is for callers retrying whole
operations). Tests may still call ``_write_commit`` to forge competitor
commits. ``admit_schema`` is that rule: ``LakeTable._admit`` applies it
to every batch (and ``_check_assign_types`` to SET assignments), and
the native writer applies it too, so both engines refuse alike.
"""

from __future__ import annotations

import ast
from pathlib import Path

SOURCES = (
    Path(__file__).resolve().parents[1] / "olist_data_warehouse_spark"
    / "sources"
)


def _uses(name: str) -> list[str]:
    """``module:Scope.path`` of every reference to ``name`` (attribute
    or bare name) in the sources, outside its own definition."""
    out: list[str] = []
    for path in sorted(SOURCES.glob("*.py")):
        scope: list[str] = []

        def visit(node: ast.AST) -> None:
            named = isinstance(
                node, (ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
            )
            if named:
                scope.append(node.name)
            if (
                isinstance(node, ast.Attribute) and node.attr == name
            ) or (isinstance(node, ast.Name) and node.id == name):
                out.append(f"{path.stem}:{'.'.join(scope)}")
            for child in ast.iter_child_nodes(node):
                visit(child)
            if named:
                scope.pop()

        visit(ast.parse(path.read_text(), filename=str(path)))
    return out


def test_write_commit_is_called_only_by_commit():
    assert _uses("_write_commit") == ["lakehouse:LakeTable._commit"]


def test_writers_do_not_retry_commits_themselves():
    assert _uses("with_occ_retry") == []


def test_one_admission_rule():
    assert sorted(_uses("admit_schema")) == [
        "lakebatch:LakeBatchDataSource.writer",
        "lakehouse:LakeTable._admit",
        "lakehouse:LakeTable._check_assign_types",
    ]

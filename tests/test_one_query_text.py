"""One query text: a query both engines can run from the same SQL registers
that text once (``registry.register_sql``). Spark runs it over temp views of
the testdata tables, DuckDB runs it as the oracle.

Three tripwires: the temp views are registered in one place only, every
such spec runs exactly its oracle string, and the views follow the table
directory a build is given (a second build in the same session at another
scale must not read the first build's tables).
"""

from __future__ import annotations

import ast
from pathlib import Path

from tests.conftest import SF_CORRECT, SF_SMOKE
from tutorial_iceberg_spark.io import load_table
from tutorial_iceberg_spark.registry import all_queries

ROOT = Path(__file__).resolve().parent.parent
SOURCES = [
    *sorted((ROOT / "tutorial_iceberg_spark").rglob("*.py")),
    *sorted((ROOT / "tools").glob("*.py")),
    *sorted(ROOT.glob("*.py")),
]


def _one_text_specs():
    return {
        name: spec
        for name, spec in all_queries().items()
        if spec.builder.__module__ == "tutorial_iceberg_spark.registry"
    }


def _callers(tree: ast.AST, callee: str) -> list[str]:
    """Qualified names of the functions that call ``callee`` (``<module>``
    for a call at module level)."""
    found = []

    def walk(node, scope):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            scope = scope + [node.name]
        if isinstance(node, ast.Call):
            f = node.func
            if getattr(f, "id", None) == callee or getattr(f, "attr", None) == callee:
                found.append(".".join(scope) or "<module>")
        for child in ast.iter_child_nodes(node):
            walk(child, scope)

    walk(tree, [])
    return found


def test_views_are_registered_only_by_the_one_text_helper():
    calls = {}
    for path in SOURCES:
        rel = path.relative_to(ROOT).as_posix()
        if rel == "tutorial_iceberg_spark/io.py":
            continue
        for caller in _callers(ast.parse(path.read_text()), "register_views"):
            calls.setdefault(rel, []).append(caller)
    assert calls == {"tutorial_iceberg_spark/registry.py": ["register_sql.build"]}


class _RecordingSession:
    """The session, with every ``sql`` text recorded."""

    def __init__(self, spark):
        self._spark = spark
        self.texts: list[str] = []

    def __getattr__(self, attr):
        return getattr(self._spark, attr)

    def sql(self, text, *args, **kwargs):
        self.texts.append(text)
        return self._spark.sql(text, *args, **kwargs)


def test_each_one_text_spec_runs_its_oracle_string(spark, sf_dir):
    specs = _one_text_specs()
    assert len(specs) >= 40
    for name, spec in specs.items():
        rec = _RecordingSession(spark)
        df = spec.builder(rec, sf_dir)
        assert rec.texts == [spec.oracle], name
        assert df.columns, name  # analyzed against the views


def test_views_follow_the_table_directory(spark):
    build = _one_text_specs()["p1_projection"].builder
    for sf in (SF_SMOKE, SF_CORRECT, SF_SMOKE):
        expected = load_table(spark, sf, "events").count()
        assert build(spark, sf).count() == expected, sf

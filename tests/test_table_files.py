"""Guard: table files are replaced in ``catalog.py`` alone. Every rebuild,
rewrite, truncate, compaction and partition overwrite goes through
``EngineCatalog.replace`` (stage beside the table, swap in once, restore
on failure), and every table write through its one parquet writer. So
no other engine module names the writer's ``cluster_for_write``, and the
row planners (``plans/dml.py``, ``materializations/``) import none of
the file-system modules a hand-written swap would need. The query suite
(``suite/``) is exempt: it is fixture and bench plumbing, not engine
code."""

from __future__ import annotations

import ast
import pathlib

ENGINE = pathlib.Path(__file__).resolve().parent.parent / "dbt_maxcompute_spark"
OWNER = "catalog.py"
WRITER = "cluster_for_write"
FS_MODULES = ("os", "shutil", "uuid")


def _is_planner(rel: str) -> bool:
    return rel == "plans/dml.py" or rel.startswith("materializations/")


def names_writer(source: str) -> list[int]:
    """Rule (a): the lines on which ``source`` names the writer."""
    out = []
    for node in ast.walk(ast.parse(source)):
        if (
            (isinstance(node, ast.Name) and node.id == WRITER)
            or (isinstance(node, ast.Attribute) and node.attr == WRITER)
            or (isinstance(node, ast.alias) and node.name == WRITER)
        ):
            out.append(node.lineno)
    return sorted(out)


def fs_imports(source: str) -> list[str]:
    """Rule (b): the file-system modules ``source`` imports."""
    out = set()
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, ast.Import):
            mods = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom) and node.level == 0 and node.module:
            mods = [node.module]
        else:
            continue
        out.update(m.split(".")[0] for m in mods if m.split(".")[0] in FS_MODULES)
    return sorted(out)


def _engine_modules():
    for path in sorted(ENGINE.rglob("*.py")):
        rel = path.relative_to(ENGINE).as_posix()
        if not rel.startswith("suite/"):
            yield rel, path.read_text()


def test_only_catalog_names_the_writer():
    # a moved writer must not pass vacuously
    assert names_writer((ENGINE / OWNER).read_text())
    offenders = {
        rel: lines
        for rel, src in _engine_modules()
        if rel != OWNER and (lines := names_writer(src))
    }
    assert offenders == {}, f"{WRITER} outside {OWNER}: {offenders}"


def test_planners_import_no_file_system_module():
    planners = {rel: src for rel, src in _engine_modules() if _is_planner(rel)}
    assert "plans/dml.py" in planners and len(planners) > 1
    offenders = {rel: mods for rel, src in planners.items() if (mods := fs_imports(src))}
    assert offenders == {}, f"table-file handling outside {OWNER}: {offenders}"


def test_rule_a_flags_the_writer_by_any_spelling():
    src = (
        "from dbt_maxcompute_spark.catalog import cluster_for_write\n"
        "import dbt_maxcompute_spark.catalog as c\n"
        "def f(df):\n    return c.cluster_for_write(df, [])\n"
    )
    assert names_writer(src) == [1, 4]
    # a docstring or comment may mention it; only code counts
    assert names_writer('def f():\n    """see cluster_for_write"""  # cluster_for_write\n') == []


def test_rule_b_flags_file_system_imports():
    src = "import os.path\nfrom shutil import rmtree\nimport json\ndef f():\n    import uuid\n"
    assert fs_imports(src) == ["os", "shutil", "uuid"]
    assert fs_imports("import json\nfrom .os import x\n") == []
    assert _is_planner("materializations/snapshot.py") and not _is_planner("plans/sqldml.py")

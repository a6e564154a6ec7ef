"""Guard: relations are replaced in ``catalog.py`` alone. Every build,
rebuild, rewrite, truncate, compaction, partition overwrite, clone and
relation-type change goes through ``EngineCatalog.replace`` (stage beside
the relation, swap in once, restore on failure), and every table write
through its one parquet writer. So no other engine module names the
writer's ``cluster_for_write``; the row planners (``plans/dml.py``,
``materializations/``) import none of the file-system modules a
hand-written swap would need; the runner, materializations and sources
drop no relation; and inside ``catalog.py`` only the removers (``drop``,
``drop_schema``, ``replace``, ``sweep_lifecycle``) remove files or call
``drop``. The query suite (``suite/``) is exempt: it is fixture and
bench plumbing, not engine code."""

from __future__ import annotations

import ast
import pathlib

ENGINE = pathlib.Path(__file__).resolve().parent.parent / "dbt_maxcompute_spark"
OWNER = "catalog.py"
WRITER = "cluster_for_write"
FS_MODULES = ("os", "shutil", "uuid")
REMOVERS = ("drop", "drop_schema", "replace", "sweep_lifecycle")


def _is_planner(rel: str) -> bool:
    return rel == "plans/dml.py" or rel.startswith("materializations/")


def _drops_nothing(rel: str) -> bool:
    return rel == "runner.py" or rel.startswith(("materializations/", "sources/"))


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


def catalog_drops(source: str) -> list[int]:
    """Rule (c): the lines on which ``source`` calls ``catalog.drop(...)``."""
    return sorted(
        node.lineno
        for node in ast.walk(ast.parse(source))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "drop"
        and isinstance(node.func.value, ast.Name)
        and node.func.value.id == "catalog"
    )


def _removes(func: ast.expr) -> bool:
    if isinstance(func, ast.Name):
        return func.id == "rmtree"
    return isinstance(func, ast.Attribute) and (
        func.attr == "rmtree"
        or (func.attr == "drop" and isinstance(func.value, ast.Name) and func.value.id == "self")
    )


def removals_outside(source: str, allowed=REMOVERS) -> list[str]:
    """Rule (d): the outermost functions of ``source``, other than
    ``allowed``, that call ``rmtree`` or ``self.drop``."""
    out = set()

    def visit(node, fn):
        for child in ast.iter_child_nodes(node):
            if fn is None and isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                visit(child, child.name)
                continue
            if isinstance(child, ast.Call) and _removes(child.func) and fn not in allowed:
                out.add(fn or "<module>")
            visit(child, fn)

    visit(ast.parse(source), None)
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


def test_no_relation_dropped_by_runner_materializations_or_sources():
    checked = {rel: src for rel, src in _engine_modules() if _drops_nothing(rel)}
    assert "runner.py" in checked and any(r.startswith("sources/") for r in checked)
    offenders = {rel: lines for rel, src in checked.items() if (lines := catalog_drops(src))}
    assert offenders == {}, f"catalog.drop outside explicit DROP statements: {offenders}"


def test_catalog_removes_files_only_in_its_removers():
    src = (ENGINE / OWNER).read_text()
    # the removers themselves are found, so the rule cannot pass vacuously
    assert set(removals_outside(src, allowed=())) >= set(REMOVERS)
    assert removals_outside(src) == [], f"removal outside {REMOVERS}"


def test_rule_c_flags_catalog_drop_calls():
    src = "def f(catalog, df, t):\n    df.drop('x')\n    t.drop()\n    catalog.drop('t')\n"
    assert catalog_drops(src) == [4]
    assert _drops_nothing("runner.py") and _drops_nothing("sources/seeds.py")
    assert not _drops_nothing("plans/sqldml.py")


def test_rule_d_flags_removals_outside_the_removers():
    src = (
        "import shutil\nfrom shutil import rmtree\n"
        "class C:\n"
        "    def drop(self, n):\n        shutil.rmtree(n)\n"
        "    def clone(self, a, b):\n        self.drop(b)\n"
        "    def swap(self, a):\n        def undo():\n            rmtree(a)\n        undo()\n"
        "    def rename(self, other):\n        other.drop(1)\n"
    )
    assert removals_outside(src) == ["clone", "swap"]

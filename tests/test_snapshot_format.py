"""Guard: the transaction log's file format is spelled out once, in
``txnlog.py``. A row's physical address (``_metadata.file_path`` /
``_metadata.row_index``) and the deletion-vector store schema
(``"file string, pos long"``) appear in no other engine module, and
inside ``txnlog.py`` each of them — plus the committed-schema decode
(``StructType.fromJson``) and the ``dv-<hex>`` store name — sits in
exactly one function: the snapshot scan, the DV reader, the schema
helper and the DV writer. A second hand-written scan or store writer
would drift from the shared one. The query suite (``suite/``) is
exempt: it is fixture and bench plumbing, not engine code."""

from __future__ import annotations

import ast
import pathlib

ENGINE = pathlib.Path(__file__).resolve().parent.parent / "dbt_maxcompute_spark"
OWNER = "txnlog.py"
FORMAT_STRINGS = ("_metadata.file_path", "_metadata.row_index", "file string, pos long")


def _docstrings(tree: ast.AST) -> set[int]:
    out = set()
    for node in ast.walk(tree):
        if isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        ) and ast.get_docstring(node, clean=False) is not None:
            out.add(id(node.body[0].value))
    return out


def _idioms(node: ast.AST, docs: set[int]) -> list[str]:
    """The format idioms ``node`` itself spells."""
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        if id(node) in docs:
            return []
        return [s for s in FORMAT_STRINGS if s in node.value]
    if isinstance(node, ast.Attribute) and node.attr == "fromJson":
        return ["StructType.fromJson"]
    if isinstance(node, ast.JoinedStr) and node.values:
        head = node.values[0]
        if isinstance(head, ast.Constant) and str(head.value).startswith("dv-"):
            return ['f"dv-..."']
    return []


def _uses_by_function(source: str) -> dict[str, set[str]]:
    """Idiom -> the functions (innermost enclosing, by qualified name;
    ``<module>`` at top level) that spell it."""
    tree = ast.parse(source)
    docs = _docstrings(tree)
    out: dict[str, set[str]] = {}

    def visit(node: ast.AST, scope: str) -> None:
        for child in ast.iter_child_nodes(node):
            inner = scope
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                inner = child.name if scope == "<module>" else f"{scope}.{child.name}"
            for idiom in _idioms(child, docs):
                out.setdefault(idiom, set()).add(inner)
            visit(child, inner)

    visit(tree, "<module>")
    return out


def outside_owner(source: str) -> list[str]:
    """Rule (a): the address and DV-store strings a non-owner module
    spells."""
    uses = _uses_by_function(source)
    return sorted(s for s in FORMAT_STRINGS if s in uses)


def spread_in_owner(source: str) -> dict[str, list[str]]:
    """Rule (b): each idiom of the owner spelled in more than one
    function (or at module level)."""
    out = {}
    for idiom, funcs in _uses_by_function(source).items():
        if len(funcs) > 1 or "<module>" in funcs:
            out[idiom] = sorted(funcs)
    return out


def test_address_and_dv_store_only_in_txnlog():
    offenders = {}
    for path in sorted(ENGINE.rglob("*.py")):
        rel = path.relative_to(ENGINE).as_posix()
        if rel.startswith("suite/") or rel == OWNER:
            continue
        uses = outside_owner(path.read_text())
        if uses:
            offenders[rel] = uses
    assert offenders == {}, f"log file format outside {OWNER}: {offenders}"


def test_each_format_idiom_in_one_txnlog_function():
    uses = _uses_by_function((ENGINE / OWNER).read_text())
    # a moved txnlog must not pass vacuously
    assert set(uses) == {*FORMAT_STRINGS, "StructType.fromJson", 'f"dv-..."'}
    assert spread_in_owner((ENGINE / OWNER).read_text()) == {}


def test_rule_a_flags_an_address_outside_the_owner():
    src = 'def f(df):\n    return df.select("_metadata.row_index")\n'
    assert outside_owner(src) == ["_metadata.row_index"]
    # a docstring may name the idiom; only code counts
    assert outside_owner('def f():\n    """reads _metadata.row_index"""\n') == []


def test_rule_b_flags_an_idiom_in_two_functions():
    src = (
        "def a(s):\n    return StructType.fromJson(s)\n"
        "class T:\n    def b(self, s):\n        return StructType.fromJson(s)\n"
        "    def c(self):\n        return f'dv-{x}'\n"
    )
    assert spread_in_owner(src) == {"StructType.fromJson": ["T.b", "a"]}
    assert spread_in_owner("S = 'file string, pos long'\n") == {
        "file string, pos long": ["<module>"]
    }

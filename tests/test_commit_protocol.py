"""Guard: the commit protocol lives in ``txnlog.py`` alone. Only that
module catches ``CommitConflict`` — every other writer retries through
``txnlog.retry_commit`` with its one attempt budget — and only it reads
the logged ``"numRecords"`` stat; everyone else asks
``Snapshot.logged_rows``. A hand-written retry loop or stats read
elsewhere would drift from the shared one. The query suite
(``suite/``) is exempt: it is fixture and bench plumbing, not engine
code."""

from __future__ import annotations

import ast
import pathlib

ENGINE = pathlib.Path(__file__).resolve().parent.parent / "dbt_maxcompute_spark"
OWNER = "txnlog.py"


def _catches_conflict(handler: ast.ExceptHandler) -> bool:
    if handler.type is None:
        return False
    types = handler.type.elts if isinstance(handler.type, ast.Tuple) else [handler.type]
    return any(
        (isinstance(t, ast.Name) and t.id == "CommitConflict")
        or (isinstance(t, ast.Attribute) and t.attr == "CommitConflict")
        for t in types
    )


def _protocol_uses(tree: ast.AST) -> list[str]:
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ExceptHandler) and _catches_conflict(node):
            out.append(f"{node.lineno}: except CommitConflict")
        elif isinstance(node, ast.Constant) and node.value == "numRecords":
            out.append(f'{node.lineno}: "numRecords"')
    return out


def test_commit_protocol_only_in_txnlog():
    owner = ENGINE / OWNER
    # a moved txnlog must not pass vacuously
    assert _protocol_uses(ast.parse(owner.read_text(), filename=str(owner)))
    offenders = {}
    for path in sorted(ENGINE.rglob("*.py")):
        rel = path.relative_to(ENGINE).as_posix()
        if rel.startswith("suite/") or rel == OWNER:
            continue
        uses = _protocol_uses(ast.parse(path.read_text(), filename=str(path)))
        if uses:
            offenders[rel] = uses
    assert offenders == {}, f"commit protocol outside {OWNER}: {offenders}"

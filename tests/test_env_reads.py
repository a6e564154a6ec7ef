"""Guard: the engine reads the process environment in exactly two
places — session sizing (``session.py``) and stream shuffle sizing
(``streaming/windows.py``). Behaviour switches selected by env vars
hide a second, untested production path; reference and A/B variants
belong in the tests instead. The query suite (``suite/``) is exempt:
it is fixture and bench plumbing, not engine code."""

from __future__ import annotations

import ast
import pathlib

ENGINE = pathlib.Path(__file__).resolve().parent.parent / "dbt_maxcompute_spark"
ALLOWED = {"session.py", "streaming/windows.py"}
ENV_NAMES = {"environ", "getenv"}


def _env_reads(tree: ast.AST) -> list[int]:
    """Line numbers of ``os.environ`` / ``os.getenv`` references, however
    ``os`` (or the name itself) was imported."""
    return [
        node.lineno
        for node in ast.walk(tree)
        if (isinstance(node, ast.Attribute) and node.attr in ENV_NAMES)
        or (isinstance(node, ast.Name) and node.id in ENV_NAMES)
    ]


def test_env_read_only_in_session_and_stream_sizing():
    # a moved engine or a renamed allowed module must not pass vacuously
    assert all((ENGINE / rel).is_file() for rel in ALLOWED)
    offenders = {}
    for path in sorted(ENGINE.rglob("*.py")):
        rel = path.relative_to(ENGINE).as_posix()
        if rel.startswith("suite/") or rel in ALLOWED:
            continue
        lines = _env_reads(ast.parse(path.read_text(), filename=str(path)))
        if lines:
            offenders[rel] = lines
    assert offenders == {}, f"env reads outside {sorted(ALLOWED)}: {offenders}"

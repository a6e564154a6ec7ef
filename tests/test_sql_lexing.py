"""Guard: the SQL lexical grammar lives in ``plans/sqltext.py`` alone.
Only that module decides where a string literal, quoted identifier or
comment begins and ends; every other engine module masks, splits or
tokenizes through it. A hand-rolled scanner elsewhere — a character
compared to a quote, a ``"--"`` / ``"/*"`` constant, or the
``'[^']*'`` literal regex — would drift from Spark's grammar again.
``sqldml``'s statement regexes keep ``'[^']*'``: they run over the
mask, where a literal's body is blank. The query suite (``suite/``) is
exempt: it is fixture and bench plumbing, not engine code."""

from __future__ import annotations

import ast
import pathlib

ENGINE = pathlib.Path(__file__).resolve().parent.parent / "dbt_maxcompute_spark"
OWNER = "plans/sqltext.py"
# modules whose '[^']*' patterns are applied to the mask
MASKED_PATTERNS = {"plans/sqldml.py"}
QUOTES = ("'", '"', "`")


def _quote_const(node: ast.AST, contains: bool) -> bool:
    """A string constant that is a quote character (or, for membership
    tests, holds one); tuples/lists/sets of such constants count."""
    if isinstance(node, (ast.Tuple, ast.List, ast.Set)):
        return any(_quote_const(e, contains) for e in node.elts)
    if not (isinstance(node, ast.Constant) and isinstance(node.value, str)):
        return False
    if contains:
        return any(q in node.value for q in QUOTES)
    return node.value in QUOTES


def _lexing_uses(tree: ast.AST, masked_patterns_ok: bool) -> list[str]:
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Compare):
            membership = any(isinstance(op, (ast.In, ast.NotIn)) for op in node.ops)
            if any(_quote_const(x, membership) for x in [node.left, *node.comparators]):
                out.append(f"{node.lineno}: compares a character to a quote")
        elif (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("startswith", "endswith")
            and any(_quote_const(a, False) for a in node.args)
        ):
            out.append(f"{node.lineno}: {node.func.attr} a quote")
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            if node.value in ("--", "/*"):
                out.append(f"{node.lineno}: comment scanner constant {node.value!r}")
            elif "'[^']*'" in node.value and not masked_patterns_ok:
                out.append(f"{node.lineno}: '[^']*' literal pattern")
    return out


def _uses(path: pathlib.Path, rel: str) -> list[str]:
    tree = ast.parse(path.read_text(), filename=str(path))
    return _lexing_uses(tree, rel in MASKED_PATTERNS)


def test_sql_lexing_only_in_sqltext():
    owner = ENGINE / OWNER
    # a moved sqltext must not pass vacuously
    assert _uses(owner, OWNER)
    offenders = {}
    for path in sorted(ENGINE.rglob("*.py")):
        rel = path.relative_to(ENGINE).as_posix()
        if rel.startswith("suite/") or rel == OWNER:
            continue
        uses = _uses(path, rel)
        if uses:
            offenders[rel] = uses
    assert offenders == {}, f"SQL lexing outside {OWNER}: {offenders}"


def test_guard_catches_hand_rolled_scanners():
    """Each rule fires on the shape it forbids."""
    samples = {
        "if ch in (\"'\", '\"'): pass": True,
        "if q == '`': pass": True,
        "t.startswith(\"'\")": True,
        "s.startswith('--', i)": True,
        "rx = r\"'[^']*'\"": True,
        "x = s.strip('`')": False,
        "x = a == b": False,
    }
    for src, flagged in samples.items():
        assert bool(_lexing_uses(ast.parse(src), False)) == flagged, src
    # sqldml's mask-applied statement regexes are allowed
    assert not _lexing_uses(ast.parse("rx = r\"(?P<lit>'[^']*')\""), True)
